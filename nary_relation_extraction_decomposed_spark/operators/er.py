"""Entity resolution: MinHash signatures -> LSH blocking -> exact-jaccard
verify -> connected components -> canonical label per surface form.

Everything up to connected components is pure Spark SQL (higher-order
functions + xxhash64) — zero Python in the hot path. Determinism:
- MinHash 'permutations' are seeded hashes, identical across runs/clusters.
- Oversized LSH buckets (stopword-ish blocks, the classic LSH skew bomb)
  TRUNCATE deterministically to their first MAX_BLOCK_SIZE sorted members,
  not drop: a cluster of > MAX_BLOCK_SIZE near-identical surfaces has
  near-identical signatures in EVERY band, so an outright drop would emit
  zero pairs for exactly the most-duplicated content and it would never
  canonicalize (same guard shape as dedup.minhash_dup_candidates).
- Canonical label = lexicographically smallest surface_norm in the
  component: content-derived, partition-independent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.hashing import lsh_band_hashes_col
from ..functions.textnorm import JACCARD_THRESHOLD, MINHASH_PERMS, shingles_col
from .connected_components import connected_components

MAX_BLOCK_SIZE = 64  # over-cap LSH buckets truncate to this many members


def minhash_signatures(surfaces: DataFrame, col: str = "surface_norm") -> DataFrame:
    """(surface_norm) -> (surface_norm, shingles array<string>, sig array<bigint>).

    Formulated as explode + MINHASH_PERMS min() aggregates, then packed back
    into the sig array: higher-order lambdas (array_min(transform(...))) are
    INTERPRETED expressions, ~50x slower than this whole-stage-codegen shape
    at corpus scale; values are bit-identical (same xxhash64(shingle, seed)
    family, same min). Shuffle payload: MINHASH_PERMS longs per surface with
    map-side partial aggregation. Shingles are recomputed in the final
    select (pure function of the surface, one regexp per row).

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
    grams = distinct.select(
        F.col(col), F.explode(shingles_col(F.col(col))).alias("g")
    )
    nperms = MINHASH_PERMS
    aggs = [F.min(F.xxhash64("g", F.lit(i))).alias(f"_h{i}") for i in range(nperms)]
    wide = grams.groupBy(col).agg(*aggs)
    return wide.select(
        F.col(col),
        shingles_col(F.col(col)).alias("shingles"),
        F.array(*[F.col(f"_h{i}") for i in range(nperms)]).alias("sig"),
    )


def lsh_candidate_pairs(sigs: DataFrame, col: str = "surface_norm") -> DataFrame:
    """Band the signatures, bucket within (band, bucket), emit candidate
    pairs (a < b). Bucket-size cap bounds the quadratic blowup.

    ONE shuffle: groupBy (band, bucket) -> collect_list -> in-array pair
    expansion with higher-order functions. The earlier self-join formulation
    shuffled the banded rows twice AND recomputed the whole band-derivation
    lineage once per join side; this shape aggregates members once and the
    quadratic step never leaves the (truncated to MAX_BLOCK_SIZE) bucket
    array. Over-cap buckets TRUNCATE to their first MAX_BLOCK_SIZE sorted
    members rather than dropping: >cap near-identical surface clusters
    (boilerplate titles, stopword-ish aliases) collide in every band, so a
    drop would leave them permanently un-canonicalized; the deterministic
    sample keeps each such cluster discoverable at bounded quadratic cost,
    and CC transitively closes it from the sampled pairs."""
    bands = sigs.select(
        F.col(col), F.explode(lsh_band_hashes_col(F.col("sig"))).alias("bb")
    ).select(col, "bb.band", "bb.bucket")

    buckets = (
        bands.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(col)).alias("members"))
        .filter(F.size("members") >= 2)
        .withColumn("members", F.slice("members", 1, MAX_BLOCK_SIZE))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("members"),
            lambda x, i: F.transform(
                F.slice(F.col("members"), i + F.lit(2), F.size("members")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def verify_pairs(
    pairs: DataFrame,
    sigs: DataFrame,
    col: str = "surface_norm",
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact shingle-jaccard on candidate pairs; keep >= threshold.
    array_intersect/array_union are JVM-side; shingle arrays are small."""
    sh = sigs.select(F.col(col), F.col("shingles"))
    pa = pairs.join(sh.withColumnRenamed(col, "a").withColumnRenamed("shingles", "sh_a"), "a")
    pab = pa.join(sh.withColumnRenamed(col, "b").withColumnRenamed("shingles", "sh_b"), "b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return pab.filter(jac >= F.lit(threshold)).select("a", "b")


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

    # Verify + node-id attachment FUSED into the candidate->signature joins
    # (r7): the staged chain joined `pairs` back to sigs twice for shingles
    # (verify_pairs) and then twice more to the id table for node ids —
    # four shuffle joins over the same candidate rows. Carrying the
    # xxhash64 node id alongside the shingles makes it two joins total;
    # the surviving (src, dst) set is identical (same jaccard filter, and
    # node = xxhash64(surface) is a pure projection of the joined row).
    sh = sigs.select(
        F.col(col), F.col("shingles"), F.xxhash64(F.col(col)).alias("node")
    )
    cand = lsh_candidate_pairs(sigs, col)
    pa = cand.join(
        sh.withColumnRenamed(col, "a")
        .withColumnRenamed("shingles", "sh_a")
        .withColumnRenamed("node", "src"),
        "a",
    )
    pab = pa.join(
        sh.withColumnRenamed(col, "b")
        .withColumnRenamed("shingles", "sh_b")
        .withColumnRenamed("node", "dst"),
        "b",
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    edges = pab.filter(jac >= F.lit(JACCARD_THRESHOLD)).select("src", "dst")
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
