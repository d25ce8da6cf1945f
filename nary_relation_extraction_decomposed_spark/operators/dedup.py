"""Deduplication family for training-data pipelines (SURVEY.md scope +
task brief): exact, n-gram jaccard, MinHash-LSH, SimHash.

Scale design:
- exact_dedup: hash-groupBy; one shuffle on the content hash. The canonical
  survivor is min(id) — deterministic, resume-safe.
- ngram_jaccard_pairs: blocked self-join (never all-pairs); block key is
  caller-chosen (lang/source/domain); intersect/union are JVM array ops.
- minhash_dup_candidates: MinHash (minhash_agg) + LSH banding
  (minhash_pairs_from_sigs) — the 100 TB path: candidate generation is
  linear in docs x bands, the quadratic step only happens inside
  same-bucket groups, capped by MAX_BLOCK_SIZE. This is the one
  MinHash-LSH path of the engine: curation's near-dup stage and ER
  (operators/er.py, keyed by the surface string over char shingles) run
  the same signature aggregation and the same banding and pair code.
- simhash_signatures: token hashes via xxhash64 (JVM), 64-bit sign-fold via
  pure higher-order SQL — no Python in the loop.
- every pair generator expands its buckets through ONE capped in-bucket
  pair expansion (_bucket_pairs).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

MAX_BLOCK_SIZE = 64  # over-cap LSH buckets truncate to this many members
TOKEN_RE = "[a-z0-9]+"


def exact_dedup(df: DataFrame, id_col: str, content: Column) -> DataFrame:
    """(group_md5, keep_id, group_size): one row per distinct content."""
    h = df.select(F.col(id_col), F.md5(content).alias("group_md5"))
    return h.groupBy("group_md5").agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("group_size")
    )


def word_ngrams_col(text: Column, n: int) -> Column:
    """Distinct sorted word n-grams — higher-order SQL, no UDF."""
    toks = F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), F.lit(0))
    if n == 1:
        return F.array_sort(F.array_distinct(toks))

    def grams(t: Column) -> Column:
        # sequence(1, k) counts DOWN for k < 1 and slice(t, 0, n) raises,
        # so a text of fewer than n tokens has no n-gram at all
        idx = F.sequence(F.lit(1), F.size(t) - (n - 1))
        return F.when(F.size(t) >= n, F.transform(
            idx, lambda i: F.array_join(F.slice(t, i, n), " ")
        )).otherwise(F.array().cast("array<string>"))

    # lambdas run interpreted, without subexpression elimination: a
    # lambda that referenced `toks` itself would rerun the regex once per
    # token. Binding it once as the variable of an outer one-element
    # transform keeps the column linear in the token count.
    return F.array_sort(F.array_distinct(
        F.element_at(F.transform(F.array(toks), grams), 1)
    ))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text: Column,
    block: Column,
    n: int = 1,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jac) within blocks by exact n-gram
    jaccard. Block column bounds the join fan-out."""
    # self-join: both sides reference g — truncate once or the (regexp-
    # heavy) gram derivation recomputes per side
    g = df.select(
        F.col(id_col).alias("id"), block.alias("blk"), word_ngrams_col(text, n).alias("grams")
    ).localCheckpoint(eager=False)
    a = g.select(F.col("blk"), F.col("id").alias("id_a"), F.col("grams").alias("g_a"))
    b = g.select(F.col("blk"), F.col("id").alias("id_b"), F.col("grams").alias("g_b"))
    jac = F.size(F.array_intersect("g_a", "g_b")) / F.size(F.array_union("g_a", "g_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(jac, 6).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )


def minhash_agg(
    df: DataFrame, key: Column, grams: Column, num_perms: int = 64
) -> DataFrame:
    """(key, h0..h{num_perms-1}): signature[i] = min over the row's grams
    of xxhash64(g, i), one row per key (one shuffle on the key).

    The higher-order-function formulation (array_min(transform(...)), the
    spec twin in functions/hashing.py) is interpreted, not
    codegen'd — at doc scale (100s of shingles x 64 perms) it is ~50x
    slower. explode + groupBy keeps every hash and min inside whole-stage
    codegen; partial aggregation makes the shuffle tiny (num_perms longs
    per key). Values are bit-identical to the spec twin's. Each aggregate
    is one SQL expression: one Py4J call instead of four Column calls."""
    exploded = df.select(key, F.explode(grams).alias("g"))
    aggs = [F.expr(f"min(xxhash64(g, {i})) AS h{i}") for i in range(num_perms)]
    return exploded.groupBy(exploded.columns[0]).agg(*aggs)


def minhash_signatures_wide(
    df: DataFrame, id_col: str, text: Column, shingle_n: int,
    num_perms: int = 64,
) -> DataFrame:
    """(id, h0..h{num_perms-1}): MinHash over the word shingle_n-grams."""
    return minhash_agg(
        df, F.col(id_col).alias("id"), word_ngrams_col(text, shingle_n), num_perms
    )


def minhash_dup_candidates(
    df: DataFrame, id_col: str, text: Column, shingle_n: int = 3,
    bands: int = 16, rows: int = 4,
) -> DataFrame:
    """LSH candidate dup pairs (id_a < id_b) over word-shingle MinHash."""
    sigs = minhash_signatures_wide(df, id_col, text, shingle_n, bands * rows)
    return minhash_pairs_from_sigs(sigs, bands, rows)


def minhash_pairs_from_sigs(
    sigs: DataFrame, bands: int = 16, rows: int = 4
) -> DataFrame:
    """Banding + bucketing + capped pair expansion from PRECOMPUTED wide
    signatures (id, h0..h{bands*rows-1}) — split out of
    minhash_dup_candidates so the pair-generation step has a value-level
    cross-engine oracle: on a committed signature fixture the bucket hash
    equality xxhash64(h_i..h_j) == xxhash64(h_i'..h_j') reduces to tuple
    equality of the band values, which DuckDB can group on directly
    (plans/q_text.py dedup_minhash_pairs). Buckets expand through the
    capped _bucket_pairs (skew guard there). ER runs this too, with the
    surface string as the id (er.lsh_candidate_pairs)."""
    # one SQL expression, not bands x (rows + 5) Column objects: each
    # Column costs a Py4J round trip, which put ~0.15 s of driver time on
    # every call (4-core host)
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', "
        f"xxhash64({', '.join(f'h{b * rows + r}' for r in range(rows))}))"
        for b in range(bands)
    )
    bands_df = sigs.selectExpr("id", f"inline(array({band_structs}))")
    return (
        _bucket_pairs(bands_df, F.col("id"))
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )


def _bucket_pairs(banded: DataFrame, member: Column) -> DataFrame:
    """(band, bucket, ...) rows -> (a, b): every pair of `member` values
    sharing a (band, bucket), a before b in sort order; duplicates across
    bands remain (callers dedup after their own projection).

    ONE shuffle: groupBy (band, bucket) -> collect_list -> in-array pair
    expansion; the earlier sizes-join + self-join referenced the banded
    rows 3x, recomputing the upstream signatures per reference.

    Skew guard: over-cap buckets TRUNCATE to their first MAX_BLOCK_SIZE
    sorted members (array_sort makes the sample deterministic), not drop.
    A cluster of > MAX_BLOCK_SIZE identical items (byte-identical docs,
    boilerplate titles, simhash=0 from empty pages — guaranteed at web
    scale) collides in EVERY band, so an outright drop would emit zero
    pairs for exactly the most-duplicated content. The sample keeps it
    discoverable at bounded quadratic cost (connected components over the
    pairs still merges it); full coverage of byte-identical content is
    exact_dedup's job — run it first."""
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(member)).alias("members"))
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
    return buckets.select(F.explode(pair_arr).alias("p")).select("p.a", "p.b")


def simhash_signatures(df: DataFrame, id_col: str, text: Column) -> DataFrame:
    """64-bit SimHash per row: distinct tokens -> xxhash64 -> per-bit +/-1
    votes -> sign bits -> bigint.

    Formulated as explode + 64 sum() aggregates + one bit-fold select so the
    whole thing stays in whole-stage codegen (higher-order lambdas are
    interpreted and ~50x slower at corpus scale); shuffle payload is 64
    longs per doc with map-side partial aggregation."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), F.lit(0)))
        ).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    sim = None
    for b in range(64):
        bitval = (1 << b) if b < 63 else -(1 << 63)  # sign bit of int64
        bit = F.when(F.col(f"v{b}") > 0, F.lit(bitval).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return votes.select("id", sim.alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame, max_hamming: int = 8, band_bits: int | None = None
) -> DataFrame:
    """Near-dup pairs by SimHash: block on equal bit-bands, verify exact
    hamming distance <= max_hamming via bit_count(xor).

    Recall guarantee by pigeonhole: a pair within `max_hamming` differing
    bits shares at least one exact band iff n_bands > max_hamming, so by
    default band_bits = 64 // (max_hamming + 1) — e.g. max_hamming=8 ->
    9 bands of 7 bits; max_hamming=3 -> 16-bit bands. Passing band_bits
    explicitly trades recall (wider bands may miss pairs beyond the
    64//band_bits - 1 guarantee) against candidate fan-out.

    Buckets expand through the capped _bucket_pairs (skew guard there)
    over struct(id, simhash) members; hamming is computed per pair after
    the expansion."""
    if band_bits is None:
        band_bits = max(64 // (max_hamming + 1), 1)
    bands = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bucket"),
                    )
                    for b in range(64 // band_bits)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.bucket")
    pairs = _bucket_pairs(bands, F.struct(F.col("id"), F.col("simhash")))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
