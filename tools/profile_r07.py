"""Round-7 stage isolation profiler (guide §1.4: noop-sink timing).

NOT part of the driver contract — bench.py stays the frozen measurement.
Each section reconstructs one bench entry's operator chain and times each
stage with the noop sink so the expensive piece is identified before any
change. Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_r07.py er ann ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

RESULTS: dict[str, float] = {}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name: str, fn):
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    spark.sparkContext.setJobDescription(name)
    t0 = time.time()
    out = fn()
    dt = round(time.time() - t0, 3)
    RESULTS[name] = dt
    print(f"  {name}: {dt}s", flush=True)
    spark.sparkContext.setJobDescription(None)
    return out


def _er_surfaces(spark):
    width = spark.sparkContext.defaultParallelism
    ER_FACTOR = 4
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    cores = d.select(
        F.explode(F.sequence(F.lit(0), F.lit(ER_FACTOR - 1))).alias("i"), "doc_id"
    ).select(
        F.substring(
            F.md5(F.concat_ws("#", F.col("doc_id").cast("string"), F.col("i"))), 1, 10
        ).alias("core")
    )
    return (
        cores.select(F.col("core").alias("surface_norm"))
        .union(cores.select(
            F.concat(F.substring("core", 1, 5), F.lit(" "),
                     F.substring("core", 6, 5)).alias("surface_norm")))
        .union(cores.select(
            F.concat(F.substring("core", 1, 3), F.lit("-"),
                     F.substring("core", 4, 7)).alias("surface_norm")))
    ).repartition(width * 2)


def profile_er(spark):
    from nary_relation_extraction_decomposed_spark.functions.textnorm import (
        JACCARD_THRESHOLD,
        shingles_col,
    )
    from nary_relation_extraction_decomposed_spark.operators import er
    from nary_relation_extraction_decomposed_spark.operators.connected_components import (
        connected_components,
    )

    print("== er_canon ==", flush=True)
    surfaces = _er_surfaces(spark)
    timed(spark, "er.surfaces_noop", lambda: noop(surfaces))
    sigs = er.minhash_signatures(surfaces, "surface_norm")
    timed(spark, "er.sigs_noop", lambda: noop(sigs))
    sigs_ck = timed(
        spark, "er.sigs_ckpt", lambda: er.minhash_signatures(
            surfaces, "surface_norm"
        ).localCheckpoint(eager=True)
    )
    cand = er.lsh_candidate_pairs(sigs_ck, "surface_norm")
    timed(spark, "er.lsh_pairs_noop", lambda: noop(cand))
    # verify + node ids: the projection canonical_map applies
    sh_a, sh_b = shingles_col(F.col("a")), shingles_col(F.col("b"))
    jac = F.size(F.array_intersect(sh_a, sh_b)) / F.size(F.array_union(sh_a, sh_b))
    edges = cand.filter(jac >= F.lit(JACCARD_THRESHOLD)).select(
        F.xxhash64("a").alias("src"), F.xxhash64("b").alias("dst")
    )
    timed(spark, "er.edges_noop", lambda: noop(edges))
    comps = timed(
        spark, "er.cc_star",
        lambda: connected_components(edges, driver_threshold=0, algorithm="star"),
    )
    timed(spark, "er.cc_star_noop", lambda: noop(comps))
    timed(spark, "er.full_canonical_map", lambda: er.canonical_map(
        _er_surfaces(spark), cc_driver_threshold=0, cc_algorithm="star"
    ).count())


def profile_dedup(spark):
    from nary_relation_extraction_decomposed_spark.operators import dedup as D

    print("== corpus_dedup ==", flush=True)
    width = spark.sparkContext.defaultParallelism
    DEDUP_REPL = 8
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    docs = (
        d.select(
            F.explode(F.sequence(F.lit(0), F.lit(DEDUP_REPL - 1))).alias("c"),
            "doc_id", "text",
        )
        .select(
            (F.col("doc_id") * DEDUP_REPL + F.col("c")).alias("doc_id"),
            F.when(
                F.col("c") % 2 == 1,
                F.concat("text", F.lit(" variant "), F.col("c").cast("string")),
            ).otherwise(F.col("text")).alias("text"),
        )
        .repartition(width * 2)
        .persist()
    )
    timed(spark, "dedup.docs_count", lambda: docs.count())
    timed(spark, "dedup.exact_noop", lambda: noop(
        D.exact_dedup(docs, "doc_id", F.col("text"))))
    sigs = D.minhash_signatures_wide(docs, "doc_id", F.col("text"), 3, 64)
    timed(spark, "dedup.minhash_sigs_noop", lambda: noop(sigs))
    timed(spark, "dedup.grams_only_noop", lambda: noop(
        docs.select(F.col("doc_id").alias("id"),
                    F.explode(D.word_ngrams_col(F.col("text"), 3)).alias("g"))))
    cand = D.minhash_dup_candidates(docs, "doc_id", F.col("text"), shingle_n=3)
    timed(spark, "dedup.candidates_count", lambda: cand.count())
    docs.unpersist()


def profile_ann(spark):
    from nary_relation_extraction_decomposed_spark.operators import similarity as S

    print("== ann_lsh ==", flush=True)
    em = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    b = S.hyperplane_buckets(em, "vec_id", "embedding", 64, 8, 8)
    timed(spark, "ann.buckets_noop", lambda: noop(b))
    q = S.hyperplane_buckets(em, "vec_id", "embedding", 64, 8, 8)
    c = S.hyperplane_buckets(em, "vec_id", "embedding", 64, 8, 8)
    cand = (
        c.withColumnRenamed("id", "n_id")
        .join(q.withColumnRenamed("id", "q_id"), ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .dropDuplicates(["q_id", "n_id"])
    )
    timed(spark, "ann.cand_ids_count", lambda: cand.count())
    timed(spark, "ann.full_lsh", lambda: S.ann_topk_lsh(
        em, em, k=5, dim=64, n_planes=8, n_tables=8).count())
    print("== ann_ivf_build ==", flush=True)
    timed(spark, "ann.ivf_index", lambda: noop(
        S.ivf_index(em, nlist=32, lloyd_iters=2)[1]))


def profile_kg(spark):
    from nary_relation_extraction_decomposed_spark.plans.q_kg import _gaz_df, PRED_WORDS
    from nary_relation_extraction_decomposed_spark.plans.pipeline import (
        PipelineConfig, run_pipeline,
    )
    from nary_relation_extraction_decomposed_spark.operators import textprep, graph
    import bench

    print("== kg_pipeline ==", flush=True)
    width = spark.sparkContext.defaultParallelism * 2
    pages = bench._kg_replicated_pages(spark, SF_DIR, width)
    pre = textprep.filter_pages(pages, "en")
    resolved = textprep.resolve_text(pre)
    timed(spark, "kg.resolve_noop", lambda: noop(resolved))
    docs = textprep.dedup_latest_text(resolved, num_partitions=width)
    timed(spark, "kg.docs_noop", lambda: noop(docs))
    rules = spark.createDataFrame(
        [(f"{p}#a", f"{p}#b", p, f"{p}.ctx") for p in PRED_WORDS],
        "subrel_a string, subrel_b string, pred_a string, pred_b string",
    )
    docs_p = docs.persist()
    docs_p.count()
    pairs = graph.doc_kg_combined(
        docs_p, _gaz_df(spark), list(PRED_WORDS), "PIV",
        [("ARGA", "a"), ("ARGB", "b")], rules, kinds=(graph.PAIR,),
    )
    timed(spark, "kg.pairs_noop(warm docs)", lambda: noop(pairs))
    docs_p.unpersist()
    timed(spark, "kg.full_pipeline", lambda: bench.bench_kg_pipeline(spark, SF_DIR))
    print("== kg_heavy ==", flush=True)
    timed(spark, "kg.heavy_full", lambda: bench.bench_kg_heavy(spark, SF_DIR))
    print("== kg_rich ==", flush=True)
    timed(spark, "kg.rich_full", lambda: bench.bench_kg_rich(spark, SF_DIR))


def profile_pattern(spark):
    from nary_relation_extraction_decomposed_spark.plans.queries import register_all
    print("== kg_pattern ==", flush=True)
    QUERIES = register_all()
    timed(spark, "pattern.full", lambda: QUERIES["kg_pattern"](spark, SF_DIR).count())


def main():
    from nary_relation_extraction_decomposed_spark.session import build_session

    which = set(sys.argv[1:]) or {"er", "dedup", "ann", "kg", "pattern"}
    spark = build_session(
        app_name="r07-profile",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", str(max(int(CPUS), 8)))),
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={CPUS}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm JVM + python workers like bench.py
    dw = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dw.count()

    def _noop_py(it):
        for pdf in it:
            yield pdf[["doc_id"]]
    dw.repartition(int(CPUS)).mapInPandas(_noop_py, "doc_id bigint").count()

    if "er" in which:
        profile_er(spark)
    if "dedup" in which:
        profile_dedup(spark)
    if "ann" in which:
        profile_ann(spark)
    if "kg" in which:
        profile_kg(spark)
    if "pattern" in which:
        profile_pattern(spark)
    print(json.dumps(RESULTS))
    spark.stop()


if __name__ == "__main__":
    main()
