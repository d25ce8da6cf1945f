"""Stable hashing, salting, and MinHash — all JVM-side Spark SQL.

Determinism rules (BASELINE.json demands kill-resume with identical output):
- IDs are content hashes (xxhash64 of natural keys), NEVER
  monotonically_increasing_id / rand / spark_partition_id — those depend on
  physical partitioning and would change across resumes and cluster sizes.
- Salting decorrelates hot keys (hot-domain skew): salt = pmod(xxhash64(row
  natural key), nsalt) is content-derived, so re-runs salt identically.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

from .textnorm import LSH_BANDS, LSH_ROWS, MINHASH_PERMS


def stable_id_expr(*cols: Column | str) -> Column:
    """Deterministic 64-bit id from natural-key columns."""
    return F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols])


def salt_expr(key: Column | str, nsalt: int) -> Column:
    """Content-derived salt in [0, nsalt) for skew-spreading hot keys."""
    key = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(key), F.lit(nsalt)).cast("int")


def minhash_signature_col(shingle_arr: Column, num_perms: int = MINHASH_PERMS) -> Column:
    """MinHash signature array<bigint> over a shingle array — pure SQL
    higher-order functions (one xxhash64 per (shingle, seed); no Python).

    'Permutation' i is the seeded hash family xxhash64(shingle, seed=i);
    signature[i] = min over shingles. Deterministic across runs/clusters.

    Spec twin: the engine computes the same values with the codegen'd
    explode + min() aggregation (operators/dedup.minhash_agg, run by
    er.minhash_signatures and dedup.minhash_signatures_wide); this
    interpreted form defines them, backs the `minhash_sig` oracle query,
    and the tests pin the engine to it value for value.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_perms - 1)),
        lambda i: F.array_min(F.transform(shingle_arr, lambda s: F.xxhash64(s, i))),
    )


def lsh_band_hashes_col(signature: Column, bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> Column:
    """Split a MinHash signature into `bands` bands of `rows` values and hash
    each band -> array<struct<band:int, bucket:bigint>>. Explode downstream;
    mentions/docs sharing any (band, bucket) are LSH candidates.

    Spec twin: the engine's banding (operators/dedup.minhash_pairs_from_sigs,
    also behind er.lsh_candidate_pairs) hashes the band's values passed as
    columns, xxhash64(h_i, .., h_j), which folds through the same seed
    chain as xxhash64 over this array slice, so the buckets are equal. This
    form backs the `lsh_blocks` oracle query, and the tests pin the
    engine's candidate pairs to it."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.xxhash64(F.slice(signature, b * rows + 1, F.lit(rows))).alias("bucket"),
        ),
    )
