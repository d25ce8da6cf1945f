"""Streaming KG construction: the batch pipeline applied per micro-batch.

The reference is strictly batch; this is the engine's streaming face for
continuously-arriving crawl data. Pattern: `readStream` over the pages
source -> `foreachBatch` running the SAME batch pipeline (one code path,
no semantic fork) over each micro-batch -> APPEND per-batch triple deltas
tagged with batch_id.

Additivity contract: triple support is countDistinct(url) per batch, and a
url appears in exactly one micro-batch (file/offset-partitioned sources
guarantee this; late re-crawls of a url are new evidence on purpose), so
`SUM(support) GROUP BY subj, pred, obj` over the delta table equals the
batch pipeline's support over the union corpus — asserted in
tests/test_streaming_kg.py. Exactly-once: foreachBatch + the streaming
checkpoint give at-least-once delivery of idempotent batch writes keyed by
batch_id; `merge_triple_deltas` dedups on (batch_id) replays at read time.
"""

from __future__ import annotations

import os
import sys
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import textprep
from ..plans.pipeline import PipelineConfig, run_pipeline

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_pages_stream(spark: SparkSession, path: str, max_files: int = 1) -> DataFrame:
    """File-based pages stream (schema pinned to the binding input shape)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def stream_pages_to_triples(
    pages_stream: DataFrame,
    gazetteer: DataFrame,
    pred_rules: DataFrame,
    config: PipelineConfig,
    out_path: str,
    checkpoint_dir: str,
    url_level: bool = False,
):
    """Drive the pages stream through the batch KG pipeline per micro-batch,
    appending triple deltas; availableNow drains everything currently in
    the source and stops. Returns the finished query.

    Delta granularity:
    - url_level=False: (subj, pred, obj, support, batch_id) — compact;
      SUM(support) reproduces batch support for RAW surface triples.
    - url_level=True: (subj, pred, obj, url, batch_id) — the provenance
      table; countDistinct(url) reproduces support exactly even AFTER a
      merge-time canonical map collapses alias triples from one url
      (canonicalize_url_deltas below). Bigger, but it is the shape a KG
      needs for evidence anyway.

    Requires config.canonicalize=False: the additivity contract above only
    holds for RAW surface triples — a per-micro-batch canonical map is
    computed from that batch's surfaces alone, so canonical labels (min of
    a smaller cluster) can differ per batch and from the union run,
    silently breaking SUM(support) equality. Canonicalize at merge time
    instead: build ONE canonical map over the union surfaces and apply it
    with canonicalize_url_deltas."""
    if config.canonicalize:
        raise ValueError(
            "stream_pages_to_triples requires PipelineConfig(canonicalize="
            "False): per-batch canonical maps break delta additivity; "
            "apply one shared canonical map at merge time "
            "(canonicalize_url_deltas)"
        )
    if url_level and config.fused_rejoin:
        raise ValueError(
            "url_level deltas read the subrels and mentions frames, which "
            "the fused_rejoin lane does not surface; use fused_rejoin=False"
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        res = run_pipeline(batch_df, gazetteer, pred_rules, config)
        if url_level:
            from ..plans.pipeline import _rejoin

            out = _rejoin(res.subrels, pred_rules, None, config, url_level=True)
            # processed-urls manifest (1 row per url per batch): a re-crawl
            # whose new version yields NO triples leaves no trace in the
            # delta table itself, so without this the merge could not know
            # the url was re-processed and stale earlier-batch evidence
            # would survive (latest_batch_per_url reads this sidecar).
            # Record only urls that actually ENTER the pipeline
            # (filter_pages: lang + text/html-null) — a re-crawl whose new
            # version is filtered out (lang changed, both text and html
            # null) must NOT supersede earlier in-lang evidence, because the
            # batch pipeline (filter_pages then dedup_latest_text) keeps the
            # older in-lang version's triples there
            (
                textprep.filter_pages(batch_df, config.lang)
                .select("url").distinct()
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(urls_manifest_path(out_path))
            )
            # mention-surfaces sidecar (url, surface_norm, batch_id):
            # merge-time ER needs the canonical map built over the union
            # corpus' MENTION surfaces — triples' subj/obj alone both
            # include superseded-batch surfaces and miss mention-only
            # surfaces (cluster minima / CC bridges), so an exact
            # batch-parity map cannot be derived from the delta table
            (
                res.mentions.select("url", "surface_norm").distinct()
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(surfaces_sidecar_path(out_path))
            )
        else:
            out = res.triples
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )
        # Test-only determinism gate (VERDICT r5 #3), the streaming twin of
        # plans/checkpoint.py's pause-after-stage: park AFTER this batch's
        # delta/sidecar appends but BEFORE process() returns — i.e. before
        # the streaming checkpoint commits the batch — so a SIGKILL here
        # deterministically forces Spark to REPLAY this batch_id on
        # restart (the at-least-once path merge_triple_deltas must absorb).
        # Local-fs sentinel: test harnesses only. Unset in production.
        if os.environ.get("NARY_KG_STREAM_TEST_PAUSE_BEFORE_COMMIT") == str(
            batch_id
        ):
            print(
                f"NARY_KG_STREAM_TEST_PAUSE_BEFORE_COMMIT={batch_id}: "
                "parking after delta append, before checkpoint commit "
                "(test gate; unset the env var for production runs)",
                file=sys.stderr,
                flush=True,
            )
            with open(out_path.rstrip("/") + "._paused", "w") as f:
                f.write(str(batch_id))
            while True:  # pragma: no cover - exited only by SIGKILL
                time.sleep(0.1)

    q = (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def urls_manifest_path(out_path: str) -> str:
    """Sidecar parquet dir holding (url, batch_id) per PROCESSED url per
    batch — written by stream_pages_to_triples(url_level=True)."""
    return out_path.rstrip("/") + "_urls"


def surfaces_sidecar_path(out_path: str) -> str:
    """Sidecar parquet dir holding (url, surface_norm, batch_id) mention
    surfaces per batch — written by stream_pages_to_triples(url_level=True)
    so merge-time ER can build its canonical map over the union corpus'
    mention surfaces (latest batch per url), exactly as the batch pipeline
    does."""
    return out_path.rstrip("/") + "_surfaces"


def read_surfaces_sidecar(spark: SparkSession, out_path: str) -> DataFrame | None:
    """The mention-surfaces sidecar, or None when absent (deltas produced
    by an older writer)."""
    from ..plans.checkpoint import HadoopFS

    path = surfaces_sidecar_path(out_path)
    if not HadoopFS(spark, path).exists(path):
        return None
    return spark.read.parquet(path)


def union_corpus_surfaces(spark: SparkSession, out_path: str) -> DataFrame | None:
    """Distinct mention surfaces of the CURRENT union corpus (each url
    reduced to its latest processed batch) — the exact input the batch
    pipeline's ER sees, for merge-time canonical_map. None when the
    surfaces sidecar is absent."""
    s = read_surfaces_sidecar(spark, out_path)
    if s is None:
        return None
    return (
        latest_batch_per_url(s, read_urls_manifest(spark, out_path))
        .select("surface_norm")
        .distinct()
    )


def latest_batch_per_url(
    deltas: DataFrame, urls_manifest: DataFrame | None = None
) -> DataFrame:
    """Keep only each url's rows from its LATEST batch — the streaming twin
    of textprep.dedup_latest_text's latest-version-per-url rule.

    A re-crawled url landing in a later micro-batch re-extracts the whole
    document; without this filter, distinct (triple, url) at merge time
    would union evidence from BOTH document versions, diverging from the
    batch pipeline (which dedups to one version per url). "Latest" comes
    from the processed-urls manifest when given — the delta rows alone
    cannot see a re-crawl whose new version emits NO triples (nothing to
    row-max over), and exactly that url must drop ALL its stale evidence.
    Without a manifest, falls back to max(batch_id) over the delta rows
    themselves (correct whenever every processed version emits >= 1 row).

    File-stream sources deliver re-crawls in arrival order, so the max
    batch is the latest version (within one batch, run_pipeline's
    dedup_latest_text has already picked the max-warc_ts row; an
    out-of-order re-crawl whose warc_ts is OLDER than an earlier batch's is
    resolved by batch recency — the one documented deviation from pure
    warc_ts ordering, since url-level deltas do not carry warc_ts)."""
    if urls_manifest is not None:
        latest = urls_manifest.groupBy("url").agg(
            F.max("batch_id").alias("_maxb")
        )
        return (
            deltas.join(latest, "url", "left")
            .filter(
                F.col("_maxb").isNull() | (F.col("batch_id") == F.col("_maxb"))
            )
            .drop("_maxb")
        )
    w = Window.partitionBy("url")
    return (
        deltas.withColumn("_maxb", F.max("batch_id").over(w))
        .filter(F.col("batch_id") == F.col("_maxb"))
        .drop("_maxb")
    )


def read_urls_manifest(spark: SparkSession, out_path: str) -> DataFrame | None:
    """The (url, batch_id) processed-urls sidecar next to a url-level delta
    table, or None when absent (deltas produced by an older writer)."""
    from ..plans.checkpoint import HadoopFS

    path = urls_manifest_path(out_path)
    if not HadoopFS(spark, path).exists(path):
        return None
    return spark.read.parquet(path)


def merge_triple_deltas(spark: SparkSession, out_path: str) -> DataFrame:
    """Delta table -> current triple set, dispatching on the stored
    granularity. Aggregated deltas: dedup (triple, batch_id) replays, sum
    support — REQUIRES each url to live in exactly one batch (a re-crawl in
    a later batch double-counts; use url_level=True deltas when re-crawls
    are possible). Url-level deltas: latest batch per url (re-crawl
    supersedes, see latest_batch_per_url), distinct (triple, url) — which
    also absorbs at-least-once replays — then count (the skew-safe
    two-phase form: the first shuffle key includes url)."""
    deltas = spark.read.parquet(out_path)
    if "url" in deltas.columns:
        return (
            latest_batch_per_url(deltas, read_urls_manifest(spark, out_path))
            .select("subj", "pred", "obj", "url")
            .distinct()
            .groupBy("subj", "pred", "obj")
            .agg(F.count("*").cast("bigint").alias("support"))
        )
    deduped = deltas.dropDuplicates(["subj", "pred", "obj", "batch_id"])
    return deduped.groupBy("subj", "pred", "obj").agg(
        F.sum("support").cast("bigint").alias("support")
    )


def canonicalize_url_deltas(
    deltas: DataFrame,
    canon_map: DataFrame,
    urls_manifest: DataFrame | None = None,
) -> DataFrame:
    """EXACT merge-time canonicalization — the streaming counterpart of
    the batch pipeline's in-run ER (stream_pages_to_triples requires
    canonicalize=False; this is the documented second half):

        stream_pages_to_triples(..., url_level=True)
        canon = er.canonical_map(union-corpus surfaces)   # ONE shared map
        canonicalize_url_deltas(spark.read.parquet(deltas), canon)

    Broadcast-maps subj/obj through the shared canonical labels (absent
    surfaces keep themselves — same coalesce rule as operators/triples),
    dedups (canonical triple, url), counts. Needs url-level deltas: with
    only aggregated supports, a url whose alias surfaces collapse onto one
    canonical triple would be double counted (SUM is an upper bound there);
    with urls it reproduces the canonicalized batch pipeline EXACTLY
    (asserted in tests/test_streaming_kg.py). When the deltas carry
    batch_id, a re-crawled url is first reduced to its latest batch
    (latest_batch_per_url; pass urls_manifest = read_urls_manifest(...) so
    a version that emits no triples still supersedes) — matching the batch
    pipeline's one-version-per-url rule."""
    if "batch_id" in deltas.columns:
        deltas = latest_batch_per_url(deltas, urls_manifest)
    canon = canon_map.select("surface_norm", "canonical")
    subj_map = F.broadcast(canon.toDF("subj", "_subj_c"))
    obj_map = F.broadcast(canon.toDF("obj", "_obj_c"))
    return (
        deltas.join(subj_map, "subj", "left")
        .join(obj_map, "obj", "left")
        .select(
            F.coalesce("_subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("_obj_c", "obj").alias("obj"),
            "url",
        )
        .distinct()
        .groupBy("subj", "pred", "obj")
        .agg(F.count("*").cast("bigint").alias("support"))
    )
