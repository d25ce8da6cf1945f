"""spark-submit entry point for the KG-construction pipeline.

Launch (cluster):
  spark-submit --py-files dist/nary_kg.zip jobs/run_pipeline.py \
      --pages <pages parquet/iceberg path> --fixtures tests/fixtures/data \
      --output /data/out --checkpoint /data/ckpt --nsalt 16

Launch (sandbox scaling evidence — N vs 4N cores):
  spark-submit --master local[8]  jobs/run_pipeline.py ... ; \
  spark-submit --master local[32] jobs/run_pipeline.py ...

The job is kill-resumable: rerunning with the same --checkpoint skips every
committed stage (see plans/checkpoint.py) and prints per-stage manifests.
Without --checkpoint it prints the extraction counts instead (docs_in,
from_html, provided_text, empty_text), observed in the JVM over the
resolved pages (textprep.resolve_text).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None, help="pages parquet path (default: fixture corpus)")
    ap.add_argument("--fixtures", default="tests/fixtures/data")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--nsalt", type=int, default=16)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-canonicalize", action="store_true")
    ap.add_argument(
        "--base-graph", action="store_true",
        help="disable the default doc-graph enrichment (same-sentence "
             "co-mention edges + adjacent-sentence token-window proximity "
             "edges) and run the sentence-chain base graph only",
    )
    ap.add_argument(
        "--token-window", type=int, default=None,
        help="cross-boundary token gap for proximity edges (default: "
             "kernels.TOKEN_WINDOW; ignored with --base-graph)",
    )
    ap.add_argument(
        "--fused-rejoin", action="store_true",
        help="triples-only doc pass: emit only the per-doc triple pairs "
             "(plus mentions for canonicalization) and skip mention-free "
             "docs, the shape bench.py's kg entries measure. Either way "
             "the stages are docs -> combined [-> canon] -> triples "
             "(checkpointed per stage with --checkpoint)",
    )
    ap.add_argument(
        "--prev-triples", default=None,
        help="previous snapshot (parquet): write only triples whose "
             "(subj, pred, obj) is new vs it (left-anti incremental run)",
    )
    args = ap.parse_args()

    from nary_relation_extraction_decomposed_spark.session import (
        ENGINE_CONFS,
        apply_engine_confs,
    )
    from nary_relation_extraction_decomposed_spark.plans.catalog import (
        write_triples_table,
    )
    from nary_relation_extraction_decomposed_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
        run_pipeline_checkpointed,
    )

    builder = SparkSession.builder.appName("nary-kg-pipeline")
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = builder.getOrCreate()
    apply_engine_confs(spark)

    pages_path = args.pages or os.path.join(args.fixtures, "pages.parquet")
    pages = spark.read.parquet(pages_path)
    gaz = spark.read.parquet(os.path.join(args.fixtures, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(args.fixtures, "pred_rules.parquet"))
    from nary_relation_extraction_decomposed_spark.operators.kernels import (
        TOKEN_WINDOW,
    )

    config = PipelineConfig(
        canonicalize=not args.no_canonicalize,
        co_mention_edges=not args.base_graph,
        token_window=(
            None if args.base_graph
            else (args.token_window if args.token_window is not None
                  else TOKEN_WINDOW)
        ),
        fused_rejoin=args.fused_rejoin,
        collect_metrics=not args.checkpoint,
    )

    t0 = time.time()
    if args.checkpoint:
        result, ck = run_pipeline_checkpointed(
            pages, gaz, rules, config, args.checkpoint, corpus_fp=pages_path
        )
        stage_stats = {
            s: {"skipped": st.get("skipped", False),
                **({"n_rows": st["manifest"]["n_rows"],
                    "wall_ms": st["manifest"]["wall_ms"]} if "manifest" in st else {})}
            for s, st in ck.stats.items()
        }
    else:
        result = run_pipeline(pages, gaz, rules, config)
        stage_stats = {}

    out_triples = result.triples
    n_prev = None
    if args.prev_triples:
        from nary_relation_extraction_decomposed_spark.operators.triples import (
            new_triples,
        )

        prev = spark.read.parquet(args.prev_triples)
        n_prev = prev.count()
        out_triples = new_triples(out_triples, prev)
    write_triples_table(out_triples, os.path.join(args.output, "triples"))
    n_triples = spark.read.parquet(os.path.join(args.output, "triples")).count()
    n_docs = result.docs.count()
    wall = time.time() - t0
    extract_metrics = result.metrics.get if result.metrics is not None else {}
    print(json.dumps({
        "n_prev_triples": n_prev,
        "n_docs": n_docs,
        "n_triples": n_triples,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 2) if wall > 0 else None,
        "stages": stage_stats,
        "extract_metrics": extract_metrics,
        "parallelism": spark.sparkContext.defaultParallelism,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
