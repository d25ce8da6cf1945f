"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: broadcast the (small) query set against the
  (huge) corpus; dot products via zip_with/aggregate — JVM higher-order
  functions, no Python, no shuffle except the final per-query top-k.
- LSH-bucketed variant (random hyperplanes): the scale path — candidates
  only within matching sign-buckets, then exact rerank. Hyperplanes are
  derived deterministically from a seed via content hashing, so signatures
  are identical across runs/clusters.
- Centroid per group: grouped-agg over exploded positions (SQL) or a
  grouped-map pandas UDAF (numpy) — both provided.
"""

from __future__ import annotations

import re

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import broadcast

# an explicit, AQE-exempt repartition(n, key) as a physical-plan line, e.g.
# "+- Exchange hashpartitioning(id#5L, 64), REPARTITION_BY_NUM, [plan_id=7]"
# (the prefix excludes BroadcastExchange / ReusedExchange lines)
_RE_REPARTITION_BY_NUM = re.compile(
    r"^[\s|:+-]*Exchange hashpartitioning\((.+?), (\d+)\), REPARTITION_BY_NUM\b"
)


def _widen_if_narrow(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition `df` to defaultParallelism clustered by `key_col` when it
    is under-partitioned (a small single-split parquet scan would run heavy
    downstream compute on one core), WITHOUT finalizing an adaptive plan.

    `df.rdd.getNumPartitions()` on an exchange-bearing plan materializes
    every upstream query stage under AQE just to read a count — the chain
    would execute once for the probe and again for the real action. So the
    width is probed only when the physical plan is exchange-free (scans /
    narrow chains / localCheckpoints — the motivating under-partitioned
    cases, where .rdd is split arithmetic). The plan read is executedPlan
    (AQE's initial plan: EnsureRequirements has inserted the groupBy/join/
    sort exchanges, nothing has run); sparkPlan would show only explicit
    repartitions. Exchange-bearing chains are repartitioned — the explicit
    exchange is AQE-coalesce-exempt (kills the small-shuffle starvation
    pattern) and clusters by `key_col`, which every caller's downstream
    groupBy/window reuses — UNLESS the topmost exchange (the first
    Exchange line of any kind) is already repartition(n, key_col) with
    n >= defaultParallelism and REPARTITION_BY_NUM: the only exchange whose
    printed width is the runtime width. AQE may coalesce REPARTITION_BY_COL
    (no explicit n) and ENSURE_REQUIREMENTS exchanges, and a range or
    single-partition exchange above the repartition reshapes its output."""
    nparts = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" not in plan:
        if df.rdd.getNumPartitions() >= nparts:
            return df
        return df.repartition(nparts, F.col(key_col))
    top = next(line for line in plan.splitlines() if "Exchange" in line)
    m = _RE_REPARTITION_BY_NUM.match(top)
    if m:
        cols = [c.strip().split("#")[0] for c in m.group(1).split(",")]
        if cols == [key_col] and int(m.group(2)) >= nparts:
            return df
    return df.repartition(nparts, F.col(key_col))


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_prenormed_col(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    """cosine_col with the per-vector norms PRECOMPUTED: dot/norm/norm are
    each an interpreted aggregate(zip_with(...)) walk over the vectors, so
    recomputing both norms per CANDIDATE PAIR triples the interpreted work —
    attach norm_col once per id-side row and pair-score with one dot.
    Bit-identical: the same sqrt(aggregate(...)) doubles multiplied in the
    same order as cosine_col's norm_col(a) * norm_col(b)."""
    return dot_col(a, b) / (a_norm * b_norm)


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """(q_id, n_id, cosine, rank) — exact top-k by cosine.
    Rank orders by ROUNDED cosine then neighbor id so ordering is stable
    under last-ulp float differences (cross-engine determinism)."""
    q = broadcast(
        queries.select(
            F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("q_vec")
        ).withColumn("q_norm", norm_col(F.col("q_vec")))
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), as_double(F.col(vec_col)).alias("n_vec")
    ).withColumn("n_norm", norm_col(F.col("n_vec")))
    scored = (
        c.crossJoin(q)
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                cosine_prenormed_col(
                    F.col("q_vec"), F.col("n_vec"), F.col("q_norm"), F.col("n_norm")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _micro(x: Column) -> Column:
    """Vector component -> integer micro-units (round(x * 1e6) as bigint).

    The plane sums that decide LSH sign bits MUST be accumulation-order
    independent: float addition is not associative, and Spark guarantees no
    row order inside an aggregate once partial hash aggregation spills to
    sort-based runs — a near-zero double sum could flip sign between runs
    or between the fast/spec implementations. Integer sums are exact in any
    order (same trick as centroids_sql / ivf_index). 1e-6 granularity on
    unit-scale embedding components leaves the sign decision unchanged for
    any sum farther than n_dim*5e-7 from zero; exact zero maps to bit=1 in
    both implementations."""
    return F.round(x * 1000000.0, 0).cast("bigint")


def hyperplane_signature_col(vec: Column, dim: int, n_planes: int, seed: int = 42) -> Column:
    """Random-hyperplane LSH signature as a bigint bucket key. Plane (p, d)
    component = deterministic pseudo-random in {-1,+1} from xxhash64(seed,p,d)
    — content-free, reproducible on any cluster, no stored model. Signed
    sums run in integer micro-units (_micro) so the sign bits are exact and
    partition/spill-order-free.

    SPEC TWIN ONLY: higher-order `aggregate(zip_with(...))` lambdas are
    INTERPRETED expressions — n_tables x n_planes of them re-walk every
    vector per row, the exact expression class minhash_signatures/
    simhash_signatures measured at ~50x slower than the explode+codegen
    shape. The hot path is hyperplane_buckets below (bit-identical,
    pytest-pinned in tests/test_dedup_similarity.py); this column form
    survives as the executable spec for that pin."""
    def _signer(p: int):
        def sign(x, d):
            return F.when(
                F.pmod(F.xxhash64(F.lit(seed), F.lit(p), d), F.lit(2)) == 0,
                _micro(x),
            ).otherwise(-_micro(x))

        return sign

    sig = None
    for p in range(n_planes):
        comp = F.zip_with(vec, F.sequence(F.lit(0), F.lit(dim - 1)), _signer(p))
        s = F.aggregate(comp, F.lit(0).cast("long"), lambda acc, x: acc + x)
        bit = F.when(s >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return sig


def hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed_base: int = 42,
) -> DataFrame:
    """(id, tbl, bucket) for all n_tables LSH tables — the whole-stage-
    codegen reformulation of hyperplane_signature_col (same shape as
    minhash_signatures/simhash_signatures): posexplode the vector ONCE,
    compute all n_tables x n_planes signed sums as codegen'd conditional
    sum() aggregates in ONE groupBy(id) (map-side partial agg; shuffle
    payload = n_tables*n_planes longs per row), fold sign bits per table
    in a select, explode to (tbl, bucket) rows.

    Bit-identical to the spec twin for well-formed (fixed-dim, no-null-
    element) vectors: the per-component sign is the same
    xxhash64(seed_base+t, p, pos) parity over the same IntegerType inputs,
    and the signed sums run in integer micro-units (_micro) — exact under
    ANY accumulation order, so hash-agg spill to sort-based runs cannot
    flip a near-zero plane (float sums would not survive that). Divergence
    classes vs the spec twin, all malformed-input only: (a) null/empty
    vectors produce NO bucket rows here, while the twin null-poisons them
    into bucket 0 of every table (an all-malformed-rows-collide bucket —
    candidates-for-nothing is the better behavior); (b) a null ELEMENT or
    a shorter-than-dim vector likewise null-poisons the twin but here sums
    the non-null/present components. Fixed-dim corpora have none of the
    three."""
    # Under-partitioned inputs (a small parquet file reads as ONE split)
    # would run the whole posexplode + n_tables*n_planes-agg stage on one
    # core. The explicit repartition is AQE-coalesce-exempt AND clusters by
    # id, so the groupBy below needs no further exchange — the shuffle
    # count is unchanged; only its position (and the parallelism) moves.
    # Well-partitioned corpus scans skip this entirely (_widen_if_narrow).
    df = _widen_if_narrow(df, id_col)
    # quantize ONCE in the projection — inside the aggs the round+cast
    # would be re-evaluated n_tables*n_planes times per exploded row
    # (measured +~50% on the sf0.1 self-query before it was hoisted)
    ex = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(as_double(F.col(vec_col))).alias("pos", "x"),
        )
        .filter(F.col("pos") < dim)
        .select("id", "pos", _micro(F.col("x")).alias("q"))
    )
    aggs = []
    for t in range(n_tables):
        for p in range(n_planes):
            signed = F.when(
                F.pmod(
                    F.xxhash64(F.lit(seed_base + t), F.lit(p), F.col("pos")),
                    F.lit(2),
                )
                == 0,
                F.col("q"),
            ).otherwise(-F.col("q"))
            aggs.append(F.sum(signed).alias(f"_s_{t}_{p}"))
    wide = ex.groupBy("id").agg(*aggs)

    def bucket_expr(t: int) -> Column:
        sig = None
        for p in range(n_planes):
            bit = (
                F.when(F.col(f"_s_{t}_{p}") >= 0, F.lit(1 << p).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            sig = bit if sig is None else sig.bitwiseOR(bit)
        return sig

    tables = F.array(
        *[
            F.struct(
                F.lit(t).cast("int").alias("tbl"),
                bucket_expr(t).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return wide.select("id", F.explode(tables).alias("bb")).select(
        "id", "bb.tbl", "bb.bucket"
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: OR-amplified random-hyperplane LSH — n_tables
    independent sign-bucket tables (per-table AND over n_planes), candidates
    = union over tables, then exact cosine rerank + dedup.

    At 100 TB the bucket equi-join replaces the cross join; recall ~
    1-(1-p^planes)^tables where p = 1 - angle/pi. More tables -> higher
    recall, linearly more candidate volume.

    Plan shape: signatures come from hyperplane_buckets (ONE posexplode +
    codegen'd sums — not n_tables x n_planes interpreted lambdas), the
    bucket join and table-union dedup run on (id, id) rows ONLY, and the
    64-dim double vectors are re-attached AFTER the dedup — the candidate
    exchange ships 16 bytes/row instead of ~1 KB/row of vector payload."""
    # NO broadcast hint on the query side (same reasoning as ann_topk_ivf):
    # AQE broadcasts genuinely small query sets on its own, while a
    # full-table self-query (the dedup shape) would force-ship the whole
    # bucketed corpus to every executor — measured 43% slower at sf0.1
    q = hyperplane_buckets(queries, id_col, vec_col, dim, n_planes, n_tables)
    c = hyperplane_buckets(corpus, id_col, vec_col, dim, n_planes, n_tables)
    cand_ids = (
        c.withColumnRenamed("id", "n_id")
        .join(q.withColumnRenamed("id", "q_id"), ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        # ONE id-only exchange serves the whole tail (r7): the explicit
        # repartition comes FIRST, then the table-union dedup — hash
        # partitioning on q_id satisfies the clustering requirement of
        # dropDuplicates([q_id, n_id]) (subset rule), so the dedup adds no
        # exchange of its own, and the top-k window below reuses the same
        # q_id clustering. The pre-r7 order (dedup, then repartition) paid
        # two exchanges of the candidate set back to back. The repartition
        # also pins full width for the rerank: AQE would coalesce these
        # 16-byte rows to a handful of partitions and the interpreted-HOF
        # cosine — the entry's densest compute — would run on a few cores
        # (measured 2.7 -> 1.5 s warm on the sf0.1 self-query rerank).
        .repartition(
            corpus.sparkSession.sparkContext.defaultParallelism, F.col("q_id")
        )
        .dropDuplicates(["q_id", "n_id"])  # union over tables, ids only
    )
    qv = queries.select(
        F.col(id_col).alias("q_id"), as_double(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_norm", norm_col(F.col("q_vec")))
    cv = corpus.select(
        F.col(id_col).alias("n_id"), as_double(F.col(vec_col)).alias("n_vec")
    ).withColumn("n_norm", norm_col(F.col("n_vec")))
    scored = (
        cand_ids.join(qv, "q_id")
        .join(cv, "n_id")
        .select(
            "q_id", "n_id",
            F.round(
                cosine_prenormed_col(
                    F.col("q_vec"), F.col("n_vec"), F.col("q_norm"), F.col("n_norm")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    lloyd_iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse index: deterministic k-means (seeds = nlist smallest ids,
    `lloyd_iters` Lloyd rounds, all DataFrame ops) -> (centroids, lists).

    centroids: (cid int, c_vec array<double>) — tiny, broadcast everywhere.
    lists:     (cid, id, vec) — the corpus bucketed by nearest centroid
               (the inverted lists; at scale this is the partitioned/
               bucketed layout the index is stored in).

    Determinism: seeds are content-chosen (smallest ids), assignment ties
    break by cid, so the index is identical across runs/clusters — no
    stored model, resume-safe."""
    # c is referenced by the seeds, every Lloyd assignment, AND the final
    # lists — truncate once (the caller's corpus may be an expensive chain).
    # Repartition an under-partitioned corpus BEFORE the checkpoint: the
    # materialized blocks then carry full-width partitioning, so every
    # per-round _assign_nearest sees a well-partitioned input and skips
    # its own conditional repartition (one exchange total, not one per
    # Lloyd round).
    c = _widen_if_narrow(
        corpus.select(
            F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("vec")
        ),
        "id",
    )
    c = c.localCheckpoint(eager=False)
    # seed table is nlist rows — the single-partition window is trivial
    seeds = (
        c.orderBy("id")
        .limit(nlist)
        .select(
            (F.row_number().over(Window.orderBy("id")) - 1).cast("int").alias("cid"),
            F.col("vec").alias("c_vec"),
        )
    )
    centroids = seeds.localCheckpoint(eager=False)
    for _ in range(lloyd_iters):
        assigned = _assign_nearest(c, centroids)
        # localCheckpoint per round: each centroid table is referenced by
        # the next assignment AND the final lists/probes — unmaterialized
        # iterative lineage would recompute the whole chain per reference.
        # Means via integer micro-unit sums, NOT avg(double): float sums
        # are accumulation-order-dependent, so avg() would make centroids
        # (and thus the whole index) partition-order-sensitive; quantized
        # integer sums are exact and bit-identical on any partitioning.
        q = F.round(F.col("v") * 1000000.0, 0).cast("bigint")
        centroids = (
            assigned.select("cid", F.posexplode("vec").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.sum(q).alias("s"), F.count("*").alias("n"))
            .select("cid", "pos", (F.col("s") / (F.col("n") * 1000000.0)).alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("c_vec"))
            .localCheckpoint(eager=False)
        )
    lists = _assign_nearest(c, centroids).select("cid", "id", "vec")
    return centroids, lists


def _assign_nearest(
    vecs: DataFrame, centroids: DataFrame, n_probe: int = 1
) -> DataFrame:
    """Assign each vector to its n_probe nearest centroids (by cosine,
    ties -> smaller cid): broadcast the tiny centroid table, rank, filter.
    Norms precomputed per side — not per (vector, centroid) pair, which
    would re-walk each vector nlist times (cosine_prenormed_col).

    An under-partitioned vecs side (small single-split parquet) would run
    the nlist interpreted cosines per vector on one core; the explicit
    repartition (AQE-coalesce-exempt) spreads it AND clusters by id so the
    rank/argmax below re-uses the partitioning — broadcast joins preserve
    the left side's distribution, so no second exchange appears.

    n_probe=1 (every Lloyd round + the final list assignment) is an argmax,
    not a top-k: max(struct(sim, -cid, vec)) per id picks the same row as
    rank-1 of the window — struct ordering compares sim first (desc via
    max), then -cid (ties -> smaller cid), and vec never decides (it is
    functionally dependent on id) — while replacing the window's
    per-partition SORT of all nlist scored rows per vector with a partial
    hash aggregate (r7; the sort was ~nlist x log(nlist) per vector and
    the aggregate keeps one running row per id)."""
    v = _widen_if_narrow(vecs, "id").withColumn("_vn", norm_col(F.col("vec")))
    cent = broadcast(centroids.withColumn("_cn", norm_col(F.col("c_vec"))))
    scored = v.crossJoin(cent).select(
        "id", "vec", "cid",
        F.round(
            cosine_prenormed_col(
                F.col("vec"), F.col("c_vec"), F.col("_vn"), F.col("_cn")
            ),
            9,
        ).alias("sim"),
    )
    if n_probe == 1:
        best = scored.groupBy("id").agg(
            F.max(
                F.struct(
                    F.col("sim"),
                    (-F.col("cid")).alias("_nc"),
                    F.col("vec").alias("_v"),
                )
            ).alias("_b")
        )
        return best.select(
            "id", F.col("_b._v").alias("vec"), (-F.col("_b._nc")).alias("cid")
        )
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(), F.col("cid"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_probe)
        .drop("_r", "sim")
    )


def ann_topk_ivf(
    corpus: DataFrame | None,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF ANN: queries probe their n_probe nearest coarse centroids and
    rerank exactly ONLY within those inverted lists — the third ANN
    strategy next to brute-force (exact, small query sets) and
    hyperplane-LSH (hash-bucketed). Work per query ~ n_probe/nlist of the
    corpus; recall rises with n_probe. The cid equi-join replaces the
    crossJoin at scale; lists are the bucketed storage layout.

    `index` = a prebuilt (centroids, lists) pair — e.g. straight from
    plans/catalog.read_ivf_index (cid-partitioned parquet) — so the Lloyd
    build is paid ONCE per corpus snapshot, not per query batch; corpus
    may then be None. Without it the index is built in-query."""
    if index is not None:
        centroids, lists = index
    else:
        centroids, lists = ivf_index(corpus, id_col, vec_col, nlist, lloyd_iters)
    q = queries.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("vec")
    )
    probes = _assign_nearest(q, centroids, n_probe=n_probe).select(
        F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), "cid"
    ).withColumn("q_norm", norm_col(F.col("q_vec")))
    # NO broadcast hint on probes: for small query sets AQE broadcasts them
    # anyway, but a full-table self-query (the bench shape) would broadcast
    # the whole corpus x n_probe to every executor — let the planner choose
    cands = (
        lists.withColumn("n_norm", norm_col(F.col("vec")))
        .join(probes, "cid")
        .filter(F.col("q_id") != F.col("id"))
        .select(
            "q_id",
            F.col("id").alias("n_id"),
            F.round(
                cosine_prenormed_col(
                    F.col("q_vec"), F.col("vec"), F.col("q_norm"), F.col("n_norm")
                ),
                6,
            ).alias("cosine"),
        )
        # ONE exchange for dedup + top-k window (r7): cluster by q_id
        # first; HashPartitioning(q_id) satisfies dropDuplicates' clustered
        # distribution on (q_id, n_id) (subset rule) and the window's
        # partitionBy(q_id), so neither inserts its own exchange — the
        # pre-r7 shape exchanged the scored candidates twice
        # ((q_id, n_id) for the dedup, then q_id for the window)
        .repartition(
            queries.sparkSession.sparkContext.defaultParallelism, F.col("q_id")
        )
        .dropDuplicates(["q_id", "n_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return cands.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def embed_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: Column | str,
    block: Column,
    threshold: float,
) -> DataFrame:
    """Blocked embedding-cosine near-dup pairs (id_a < id_b, cosine)."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    # self-join sides share g — truncate the lineage once; norms attach
    # per id here, not per blocked pair (cosine_prenormed_col)
    g = df.select(
        F.col(id_col).alias("id"), block.alias("blk"), as_double(vec).alias("v")
    ).withColumn("n", norm_col(F.col("v"))).localCheckpoint(eager=False)
    a = g.select("blk", F.col("id").alias("id_a"), F.col("v").alias("v_a"),
                 F.col("n").alias("n_a"))
    b = g.select("blk", F.col("id").alias("id_b"), F.col("v").alias("v_b"),
                 F.col("n").alias("n_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(
                cosine_prenormed_col(
                    F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def centroids_sql(df: DataFrame, group_col: str, vec_col: str = "embedding") -> DataFrame:
    """(group, pos, centroid) via posexplode + avg — pure SQL path.

    Cross-engine exactness: elements are quantized to integer micro-units
    BEFORE summing (float sums are accumulation-order-dependent; integer
    sums are exact), then one double division at the end."""
    ex = df.select(F.col(group_col), F.posexplode(vec_col).alias("pos", "v"))
    q = F.round(F.col("v").cast("double") * 1000000.0, 0).cast("bigint")
    return (
        ex.groupBy(group_col, "pos")
        .agg(F.sum(q).alias("sum_micro"), F.count("*").alias("n"))
        .select(
            group_col,
            F.col("pos").cast("bigint").alias("pos"),
            F.round(F.col("sum_micro") / (F.col("n") * 1000000.0), 6).alias("centroid"),
        )
    )


def centroids_pandas(df: DataFrame, group_col: str, vec_col: str = "embedding") -> DataFrame:
    """Grouped-map pandas UDAF path: numpy mean per group (Arrow batches)."""
    import numpy as np

    def agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.vstack(pdf[vec_col].to_numpy())
        return pd.DataFrame({group_col: [key[0]], "centroid_vec": [np.round(mat.mean(axis=0), 6).tolist()]})

    gtype = dict(df.dtypes)[group_col]
    return df.select(group_col, vec_col).groupBy(group_col).applyInPandas(
        agg, schema=f"{group_col} {gtype}, centroid_vec array<double>"
    )
