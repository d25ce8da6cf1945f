"""Entity resolution: MinHash signatures -> LSH blocking -> exact-jaccard
verify -> connected components -> canonical label per surface form.

The MinHash-LSH part is curation's near-dup path (operators/dedup.py),
keyed by the surface string over char shingles: the same signature
aggregation (dedup.minhash_agg), the same banding, bucketing and capped
pair expansion (dedup.minhash_pairs_from_sigs). Everything up to connected
components is pure Spark SQL (xxhash64 + array functions) — zero Python in
the hot path. Determinism:
- MinHash 'permutations' are seeded hashes, identical across runs/clusters.
- Oversized LSH buckets TRUNCATE deterministically to their first
  MAX_BLOCK_SIZE sorted surfaces (the skew guard in dedup._bucket_pairs).
- Canonical label = lexicographically smallest surface_norm in the
  component: content-derived, partition-independent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.textnorm import (
    JACCARD_THRESHOLD,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_PERMS,
    shingles_col,
)
from .connected_components import connected_components
from .dedup import MAX_BLOCK_SIZE, minhash_agg, minhash_pairs_from_sigs  # noqa: F401


def minhash_signatures(surfaces: DataFrame, col: str = "surface_norm") -> DataFrame:
    """(surface_norm) -> (surface_norm, h0..h63): dedup.minhash_agg over
    the surface's char shingles, one row per distinct surface.

    Partitioning: dedup via explicit repartition(n, col) + dropDuplicates,
    NOT .distinct(). A plain distinct's shuffle output is AQE-coalesced by
    size — a few MB of surface strings collapse to ONE partition, and the
    expensive downstream stage (gram explode + perms x xxhash64 per gram)
    then runs single-threaded (measured 3.6 s vs 1.05 s warm at 60k
    surfaces / 32 cores). The explicit repartition is AQE-coalesce-exempt,
    and because it already clusters by `col` BOTH the dedup and the
    min-aggregate below run without any further exchange: one shuffle
    total, fully parallel."""
    nparts = surfaces.sparkSession.sparkContext.defaultParallelism
    distinct = (
        surfaces.select(col).repartition(nparts, F.col(col)).dropDuplicates([col])
    )
    return minhash_agg(distinct, F.col(col), shingles_col(F.col(col)), MINHASH_PERMS)


def lsh_candidate_pairs(sigs: DataFrame, col: str = "surface_norm") -> DataFrame:
    """Candidate pairs (a < b) of surfaces sharing an LSH bucket in any of
    LSH_BANDS bands of LSH_ROWS signature values: curation's
    dedup.minhash_pairs_from_sigs keyed by the surface string (one
    shuffle; over-cap buckets truncate to their first MAX_BLOCK_SIZE
    sorted surfaces)."""
    pairs = minhash_pairs_from_sigs(
        sigs.withColumnRenamed(col, "id"), LSH_BANDS, LSH_ROWS
    )
    return pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))


def canonical_map(
    surfaces: DataFrame,
    col: str = "surface_norm",
    cc_driver_threshold: int = 200_000,
    cc_algorithm: str = "auto",
) -> DataFrame:
    """Full ER: (surface_norm) -> (surface_norm, canonical).

    Surfaces that never pair stay their own canonical. Node ids for the CC
    step are xxhash64(surface) — content-derived longs. cc_* kwargs pass
    through to connected_components (cc_driver_threshold=0 forces the
    distributed star-contraction path, e.g. for scaling benchmarks).
    """
    sigs = minhash_signatures(surfaces, col).localCheckpoint(eager=True)

    # Verify + node ids as ONE projection of the candidate rows: shingles
    # and xxhash64 node ids are pure functions of the pair's own two
    # strings, so no join back to the signature table is needed (the
    # joins cost two shuffles over the candidates).
    cand = lsh_candidate_pairs(sigs, col).select(
        shingles_col(F.col("a")).alias("sh_a"),
        shingles_col(F.col("b")).alias("sh_b"),
        F.xxhash64("a").alias("src"),
        F.xxhash64("b").alias("dst"),
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    edges = cand.filter(jac >= F.lit(JACCARD_THRESHOLD)).select("src", "dst")
    comps = connected_components(
        edges, driver_threshold=cc_driver_threshold, algorithm=cc_algorithm
    )

    ids = sigs.select(F.col(col), F.xxhash64(F.col(col)).alias("node"))
    # labeled feeds BOTH the canonical pick and the final join — truncate
    # its lineage so the pairs->edges->CC chain is computed once, not twice.
    # NOTE a window-min formulation (min(col) over partition by comp) was
    # tried here in r7 — one exchange instead of two — and REVERTED: a
    # Window operator is row-count-preserving, so a count() sink (the
    # frozen bench) prunes it entirely and the entry would silently skip
    # computing canonical labels; the inner groupBy+join is not prunable,
    # keeping the measured entry honest for any consumer.
    labeled = (
        ids.join(comps, ids["node"] == comps["node"], "left")
        .select(F.col(col), F.coalesce("comp", ids["node"]).alias("comp"))
        .localCheckpoint(eager=False)
    )
    canon = labeled.groupBy("comp").agg(F.min(col).alias("canonical"))
    return labeled.join(canon, "comp").select(col, "canonical")
