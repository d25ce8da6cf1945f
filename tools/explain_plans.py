"""Capture .explain('formatted') evidence for the load-bearing plans into
BENCH/PLANS.md: pushdown reaching the scan (PushedFilters/ReadSchema),
broadcast choices, partitioning reuse, codegen coverage.

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

CASES = [
    ("filter_regex", "predicate pushdown + column pruning reach the parquet scan"),
    ("join_broadcast", "dimension joins planned as BroadcastHashJoin"),
    ("agg_stats", "partial (map-side) + final HashAggregate + distinct expand, whole-stage codegen"),
    ("rejoin_triples", "the decompose/rejoin equi-join shape"),
    ("rejoin_nary4", "generalized arity-4 rejoin: rules joined via BroadcastHashJoin; the intermediate slot-join output keeps its (url, pivot_mid, pred) partitioning so the second slot join adds NO extra shuffle on that side"),
    ("win_topk", "rank family + top-k: ONE window shuffle computes all six rank functions"),
    ("topk_global", "orderBy+limit compiles to TakeOrderedAndProject, not a global sort"),
    ("dedup_minhash", "explode + 64 min() aggregates stay in codegen"),
    ("salt_key", "two-phase skew aggregation: salted partial then merge"),
    ("set_ops", "union/intersect/except as one plan: agg-dedup, left-semi, left-anti branches"),
    ("join_asof", "sort-based as-of (round 3): union of tagged sides -> ONE exchange on the key -> one window pass with last_value carry — NO join operator, no per-key fan-out; null-ts rows filtered at the scan (PushedFilters)"),
    ("mm_meta", "round 4: synthetic media containers built ENTIRELY JVM-side (binary literals + hex/unhex/concat in the project — no Python before the single mapInPandas metadata pass)"),
    ("ann_lsh", "round 5: hyperplane signer recompiled to posexplode + ONE HashAggregate of n_tables*n_planes codegen'd conditional sums — the SIGNATURE side has zero interpreted aggregate/zip_with lambdas (the only ones left in the plan are the rerank's per-id norms and ONE dot per deduped candidate, down from 3 interpreted walks per raw candidate); candidate dedup exchanges (q_id, n_id) pairs ONLY — the 64-dim vectors re-attach AFTER the dedup; round 6: under-partitioned inputs get an explicit REPARTITION_BY_COL before the signature stage (AQE-coalesce-exempt — a single-split scan no longer single-threads the agg), and the deduped candidate ids repartition by q_id so the interpreted-cosine rerank runs full-width and the top-k window reuses the clustering"),
    ("dedup_minhash_pairs", "round 5: pair generation from the committed signature fixture — single groupBy(band,bucket) shuffle, deterministic slice() truncation visible in the aggregate's project, in-array pair expansion (no self-join)"),
    ("kg_pattern", "round 6: BGP hop compilation — each pattern's pred filter constant-folds the other edge-union branch away (no Union in the plan, each hop scans only its edge set), ONE shuffle equi-join on the shared variable, set-semantics dedup + final agg partial-aggregated map-side"),
]


def main() -> None:
    from nary_relation_extraction_decomposed_spark.session import build_session
    from nary_relation_extraction_decomposed_spark.plans.queries import register_all

    spark = build_session(
        master="local[4]", shuffle_partitions=8,
        extra_confs={"spark.ui.enabled": "false",
                     "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = register_all()

    out_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "BENCH", "PLANS.md")
    with open(out_path, "w") as f:
        f.write("# Physical-plan evidence (.explain formatted)\n\n"
                "Captured at sf0.01, local[4]; AQE on. What to look for is\n"
                "noted per plan; regenerate with tools/explain_plans.py.\n")
        for key, why in CASES:
            df = queries[key](spark, SF)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            f.write(f"\n## {key}\n\n*{why}*\n\n```\n{buf.getvalue().strip()}\n```\n")
        f.write(pipeline_plan_evidence(spark))
        f.write(aqe_skew_join_evidence(spark))
        f.write(ivf_pruning_evidence(spark))
        f.write(gazetteer_join_evidence(spark))
    print(f"wrote {out_path}")
    spark.stop()


def gazetteer_join_evidence(spark) -> str:
    """Round 4: detect_mentions_join (the no-driver-collect dictionary
    path). What to verify: the candidate n-gram stream feeds ONE equi-join
    against the deduped gazetteer table (Catalyst/AQE picks the strategy by
    size — broadcast for this small fixture dict, SMJ for a 10^8-surface
    one; no hint pinned either way), then exactly ONE
    Exchange hashpartitioning(url) + in-partition sort feeds the greedy
    resolution mapInPandas. No Python before candidate emission; no second
    url shuffle."""
    import io
    from contextlib import redirect_stdout

    from nary_relation_extraction_decomposed_spark.operators.mentions import (
        detect_mentions_join,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .selectExpr("cast(doc_id as string) as url", "text")
    )
    gaz = spark.createDataFrame(
        [("spark", "E1", "PIV"), ("join", "E2", "ARGA")],
        "surface_norm string, ent_id string, ent_type string",
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        detect_mentions_join(docs, gaz).explain("formatted")
    txt = buf.getvalue()
    n_url_exchanges = txt.count("hashpartitioning(url")
    return (
        "\n## detect_mentions_join (round 4) — dictionary-as-table path\n\n"
        "*Candidates -> ONE dictionary equi-join (AQE-sized, no hint) -> "
        "ONE url exchange -> greedy-resolution mapInPandas. "
        f"`hashpartitioning(url...)` exchanges in plan = **{n_url_exchanges}** "
        "(must be 1).*\n\n"
        f"```\n{txt.strip()[:4000]}\n```\n"
    )


def ivf_pruning_evidence(spark) -> str:
    """Round 3: the persisted IVF index (catalog.write_ivf_index, inverted
    lists PARTITIONED BY cid) must let a probe query prune at the SCAN —
    the plan's lists scan should carry a dynamicpruningexpression on cid,
    so only n_probe/nlist of the index bytes are read."""
    import io
    from contextlib import redirect_stdout

    import pyspark.sql.functions as F

    from nary_relation_extraction_decomposed_spark.operators import similarity as S
    from nary_relation_extraction_decomposed_spark.plans.catalog import (
        read_ivf_index,
        write_ivf_index,
    )

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent, lists = S.ivf_index(em, nlist=8, lloyd_iters=1)
    write_ivf_index(cent, lists, "/tmp/ivf_plan_audit")
    stored = read_ivf_index(spark, "/tmp/ivf_plan_audit")
    q = em.filter(F.col("vec_id") < 3)
    res = S.ann_topk_ivf(None, q, k=5, n_probe=2, index=stored)
    buf = io.StringIO()
    with redirect_stdout(buf):
        res.explain("formatted")
    scans = [b for b in buf.getvalue().split("\n\n")
             if "Scan parquet" in b and "ivf_plan_audit/lists" in b]
    body = "\n\n".join(scans) if scans else buf.getvalue()[:1500]
    pruned = "dynamicpruning" in buf.getvalue()
    return (
        "\n## IVF stored-index probe (round 3) — cid partition pruning\n\n"
        "*Query probes n_probe=2 of nlist=8 cid-partitioned lists; the "
        "lists scan must show a dynamic partition-pruning filter on cid. "
        f"`dynamicpruning` present = **{pruned}**.*\n\n"
        f"```\n{body.strip()}\n```\n"
    )


def pipeline_plan_evidence(spark) -> str:
    """The END-TO-END kg pipeline physical plan over the committed fixture
    corpus (canonicalize off so the CC iteration driver-loop doesn't hide
    the core shape). What to verify: ONE url shuffle (the dedup) feeds
    the combined Python stage, which adds none; the rejoin is an equi-join
    over the checkpointed subrels (no recompute of the Python chain);
    rules broadcast; the final support count is the distinct+count
    two-phase shape."""
    import io
    import os
    from contextlib import redirect_stdout

    from nary_relation_extraction_decomposed_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    fd = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures", "data",
    )
    pages = spark.read.parquet(os.path.join(fd, "pages.parquet"))
    gaz = spark.read.parquet(os.path.join(fd, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fd, "pred_rules.parquet"))
    res = run_pipeline(pages, gaz, rules, PipelineConfig(canonicalize=False))
    buf = io.StringIO()
    with redirect_stdout(buf):
        res.triples.explain("formatted")
    return (
        "\n## Full kg pipeline (triples) — end-to-end physical plan\n\n"
        "*filter->extract(mapInPandas)->dedup(max(struct) aggregate on ONE "
        "url shuffle)->combined doc pass(ONE mapInPandas: detection + "
        "sentences + graph BFS, no shuffle)->rejoin(SMJ on checkpointed "
        "subrels)->broadcast rules->distinct+count support.*\n\n"
        f"```\n{buf.getvalue().strip()}\n```\n"
    )


def aqe_skew_join_evidence(spark) -> str:
    """Execute a deliberately skewed shuffle join and capture the FINAL
    adaptive plan (AQE decisions only exist post-execution): one hot key
    holds ~50% of the left side; with broadcast disabled and the skew
    thresholds scaled to the demo data size, AQE must split the skewed
    partition — `skew=true` on the SortMergeJoin. This is the runtime half
    of SURVEY row 67 (content salting handles skewed AGGREGATION; AQE
    handles skewed JOINS)."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 400_000).select(
            # ~50% of rows land on key 0 — the classic hot key
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 997).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(0, 997).select(
            F.col("id").alias("k"), F.col("id").alias("dim")
        )
        joined = left.join(right, "k").groupBy("dim").count()
        # execute THIS DataFrame's own queryExecution (a .count() would
        # plan and run a separate query, leaving this plan un-finalized)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    head = "\n".join(plan.splitlines()[:60])
    skewed = "skew=true" in plan
    return (
        "\n## AQE skew-join (EXECUTED adaptive plan, not the static estimate)\n\n"
        "*One hot key carries ~50% of a 400k-row left side; broadcast "
        "disabled; skew thresholds scaled to the demo bytes (production "
        "defaults are 256MB/advisory 128MB (~64MB in this repo's "
        "session.py) — same mechanism, bigger numbers). "
        f"AQE split the skewed partition: `skew=true` present = **{skewed}**.*\n\n"
        f"```\n{head}\n```\n"
    )


if __name__ == "__main__":
    main()
