"""Streaming KG construction (foreachBatch over the batch pipeline):
per-batch triple deltas, summed across batches, must equal the batch
pipeline over the union corpus — the additivity contract of
streaming/kg_stream.py (urls are disjoint across micro-batches)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from nary_relation_extraction_decomposed_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from nary_relation_extraction_decomposed_spark.streaming import kg_stream as KS


def test_streaming_rejects_per_batch_canonicalize(spark, fixture_dir, tmp_path):
    """Per-micro-batch canonical maps break delta additivity (labels are the
    min of that BATCH's cluster, not the union's) — the entry point must
    refuse rather than silently emit non-additive deltas. Likewise
    url_level deltas need the subrels/mentions frames, which the
    fused_rejoin lane never builds."""
    import pytest

    with pytest.raises(ValueError, match="canonicalize"):
        KS.stream_pages_to_triples(
            None, None, None, PipelineConfig(canonicalize=True),
            str(tmp_path / "o"), str(tmp_path / "c"),
        )
    with pytest.raises(ValueError, match="fused_rejoin"):
        KS.stream_pages_to_triples(
            None, None, None,
            PipelineConfig(canonicalize=False, fused_rejoin=True),
            str(tmp_path / "o"), str(tmp_path / "c"), url_level=True,
        )


def test_streaming_triples_match_batch(spark, fixture_dir, tmp_path):
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 4 == 0)  # speed cap
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    cfg = PipelineConfig(canonicalize=False)

    # two url-disjoint files -> two micro-batches (pmod, NOT %: xxhash64 is
    # signed and % keeps the sign, which would drop the negative-hash urls
    # from both halves)
    src = str(tmp_path / "pages_in")
    half = F.pmod(F.xxhash64("url", F.lit(7)), F.lit(2))
    pages.filter(half == 0).write.parquet(src, mode="overwrite")
    pages.filter(half == 1).write.mode("append").parquet(src)

    out = str(tmp_path / "triple_deltas")
    KS.stream_pages_to_triples(
        KS.read_pages_stream(spark, src, max_files=1),
        gaz, rules, cfg, out, str(tmp_path / "ck"),
    )

    deltas = spark.read.parquet(out)
    assert deltas.select("batch_id").distinct().count() >= 2

    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in KS.merge_triple_deltas(spark, out).collect()
    }
    batch = run_pipeline(pages, gaz, rules, cfg)
    want = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in batch.triples.collect()
    }
    assert got == want and got

    # URL-LEVEL deltas: merge must give the same raw triples, and
    # merge-time canonicalization with ONE shared map over the union
    # surfaces must equal the batch pipeline run WITH canonicalize=True
    # (exactly — including urls whose alias triples collapse)
    out_u = str(tmp_path / "url_deltas")
    KS.stream_pages_to_triples(
        KS.read_pages_stream(spark, src, max_files=1),
        gaz, rules, cfg, out_u, str(tmp_path / "ck_u"), url_level=True,
    )
    got_u = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in KS.merge_triple_deltas(spark, out_u).collect()
    }
    assert got_u == want

    from nary_relation_extraction_decomposed_spark.operators.er import (
        canonical_map,
    )

    canon = canonical_map(batch.mentions.select("surface_norm"))
    got_c = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in KS.canonicalize_url_deltas(
            spark.read.parquet(out_u), canon
        ).collect()
    }
    want_c = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in run_pipeline(
            pages, gaz, rules, PipelineConfig(canonicalize=True)
        ).triples.collect()
    }
    assert got_c == want_c and got_c


def test_streaming_recrawl_supersedes_earlier_batch(spark, fixture_dir, tmp_path):
    """A url RE-CRAWLED into a later micro-batch must supersede its earlier
    version at merge time (latest_batch_per_url): without the latest-batch
    filter, distinct (triple, url) unions evidence from BOTH document
    versions, diverging from the batch pipeline, whose dedup_latest_text
    keeps one version per url."""
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(
        (F.xxhash64("url") % 8 == 0) & F.col("text").isNotNull()
    ).persist()
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    cfg = PipelineConfig(canonicalize=False)

    # batch 0 = every page (v1); batch 1 = re-crawls of half the urls with
    # CHANGED text (all mentions gone -> those urls now contribute zero
    # evidence) and a later warc_ts
    recrawl = pages.filter(F.pmod(F.xxhash64("url", F.lit(3)), F.lit(2)) == 0)
    v2 = recrawl.withColumn(
        "text", F.lit("no entities remain on this page after the recrawl")
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    # one file per version so maxFilesPerTrigger=1 gives exactly two
    # micro-batches, v2's strictly after v1's (file mod-time order)
    src = str(tmp_path / "pages_in")
    pages.coalesce(1).write.parquet(src, mode="overwrite")
    v2.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "url_deltas")
    KS.stream_pages_to_triples(
        KS.read_pages_stream(spark, src, max_files=1),
        gaz, rules, cfg, out, str(tmp_path / "ck"), url_level=True,
    )
    deltas = spark.read.parquet(out)
    # the re-crawled versions carry NO mentions, so the delta TABLE only
    # has batch-0 rows — the processed-urls manifest is what records that
    # batch 1 re-processed those urls (the hole this test pins)
    man = KS.read_urls_manifest(spark, out)
    assert man is not None
    assert man.select("batch_id").distinct().count() == 2
    assert deltas.select("batch_id").distinct().count() == 1

    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in KS.merge_triple_deltas(spark, out).collect()
    }
    # batch-pipeline ground truth over the union corpus: dedup_latest_text
    # picks the re-crawled (later-warc_ts) version per url
    want = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in run_pipeline(
            pages.unionByName(v2), gaz, rules, cfg
        ).triples.collect()
    }
    assert got == want and got

    # the pre-fix merge (plain distinct over ALL batches, no latest-batch
    # filter) genuinely diverges here — stale v1 evidence survives
    naive = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in deltas.select("subj", "pred", "obj", "url")
        .distinct()
        .groupBy("subj", "pred", "obj")
        .agg(F.count("*").cast("bigint").alias("support"))
        .collect()
    }
    assert naive != want
    pages.unpersist()


def test_streaming_filtered_recrawl_does_not_supersede(spark, fixture_dir, tmp_path):
    """ADVICE r4 pin: a re-crawl whose NEW version is filtered OUT of the
    pipeline (lang changed here; text/html-null is the same gate) must NOT
    supersede the url's earlier in-lang evidence. The batch pipeline runs
    filter_pages BEFORE dedup_latest_text, so the out-of-lang v2 never
    competes and v1's triples stand — the processed-urls manifest therefore
    records only urls that actually ENTER the pipeline. (The pre-fix
    manifest recorded raw batch urls, so latest_batch_per_url dropped v1's
    evidence for exactly these urls.)"""
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(
        (F.xxhash64("url") % 8 == 0) & F.col("text").isNotNull()
    ).persist()
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    cfg = PipelineConfig(canonicalize=False)

    recrawl = pages.filter(F.pmod(F.xxhash64("url", F.lit(3)), F.lit(2)) == 0)
    assert recrawl.count() > 0
    v2 = recrawl.withColumn("lang", F.lit("de")).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    src = str(tmp_path / "pages_in")
    pages.coalesce(1).write.parquet(src, mode="overwrite")
    v2.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "url_deltas")
    KS.stream_pages_to_triples(
        KS.read_pages_stream(spark, src, max_files=1),
        gaz, rules, cfg, out, str(tmp_path / "ck"), url_level=True,
    )
    # the manifest must NOT contain a batch-1 row for the filtered urls —
    # batch 1 contributed nothing to the pipeline
    man = KS.read_urls_manifest(spark, out)
    assert man is not None
    assert man.filter(F.col("batch_id") == 1).count() == 0

    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in KS.merge_triple_deltas(spark, out).collect()
    }
    want = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in run_pipeline(
            pages.unionByName(v2), gaz, rules, cfg
        ).triples.collect()
    }
    assert got == want and got
    pages.unpersist()


def test_streaming_kill_restart_exactly_once(spark, fixture_dir, tmp_path):
    """Kill the STREAMING query mid-stream and restart it from its
    checkpoint (VERDICT r5 #3). Deterministic via the pause-before-commit
    gate in kg_stream.process: run 1 drains batch 0, then parks INSIDE
    batch 1's process() — after its delta/sidecar appends, before the
    streaming checkpoint commits — and is SIGKILLed there. Run 2 against
    the same checkpoint must REPLAY batch 1 (same batch_id — the raw delta
    table then contains the replay's duplicate appends, proving the
    at-least-once path actually ran) and drain batch 2; the merged triples
    must still equal the batch pipeline over the full union corpus, and no
    url may span two batch_ids in the manifest beyond the replayed one."""
    import signal
    import subprocess
    import sys
    import time as _time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    third = F.pmod(F.xxhash64("url", F.lit(13)), F.lit(3))
    src = str(tmp_path / "pages_in")
    # three files -> three micro-batches at maxFilesPerTrigger=1
    for i in range(3):
        pages.filter(third == i).coalesce(1).write.mode("append").parquet(src)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    deltas = os.path.join(out, "deltas")
    sentinel = deltas.rstrip("/") + "._paused"

    def launch(pause_batch=None, merge=False):
        env = dict(os.environ)
        if pause_batch is not None:
            env["NARY_KG_STREAM_TEST_PAUSE_BEFORE_COMMIT"] = str(pause_batch)
        argv = [sys.executable, os.path.join(repo, "jobs", "run_stream.py"),
                "--pages", src, "--fixtures", fixture_dir,
                "--output", out, "--checkpoint", ck,
                "--shuffle-partitions", "8"]
        if merge:
            argv.append("--merge")
        return subprocess.Popen(
            argv, cwd=repo, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True, env=env,
        )

    # run 1: parks inside batch 1 (batch 0 committed, batch 2 unstarted)
    proc = launch(pause_batch=1)
    deadline = _time.time() + 300
    try:
        while _time.time() < deadline:
            assert proc.poll() is None, (
                "stream exited while parked at the test gate"
            )
            if os.path.exists(sentinel):
                proc.send_signal(signal.SIGKILL)
                break
            _time.sleep(0.2)
        else:
            raise AssertionError("pause sentinel never appeared")
        assert proc.wait(timeout=30) == -signal.SIGKILL
    finally:
        if proc.poll() is None:
            proc.kill()
    os.remove(sentinel)

    mid = spark.read.parquet(deltas)
    batch1_rows_mid = mid.filter(F.col("batch_id") == 1).count()
    assert {r["batch_id"] for r in mid.select("batch_id").distinct().collect()
            } == {0, 1}, "kill did not land between batch 0 and batch 2"
    assert batch1_rows_mid > 0, "gate parked before batch 1's delta append"

    # run 2: same checkpoint, no gate — must replay batch 1 + drain batch 2
    proc2 = launch(merge=True)
    stdout, _ = proc2.communicate(timeout=300)
    assert proc2.returncode == 0, stdout[-2000:]

    after = spark.read.parquet(deltas)
    assert {r["batch_id"] for r in after.select("batch_id").distinct().collect()
            } == {0, 1, 2}
    # the replay appended batch 1's rows AGAIN under the SAME batch_id —
    # exactly the duplication merge_triple_deltas' distinct must absorb
    assert after.filter(F.col("batch_id") == 1).count() == 2 * batch1_rows_mid
    assert after.count() > after.dropDuplicates(
        ["subj", "pred", "obj", "url", "batch_id"]).count()

    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    want = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in run_pipeline(
            pages, gaz, rules, PipelineConfig(canonicalize=False)
        ).triples.collect()
    }
    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in spark.read.parquet(os.path.join(out, "triples")).collect()
    }
    assert got == want and got

    # merge_triple_deltas directly (what --merge wrote) agrees too
    merged = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in KS.merge_triple_deltas(spark, deltas).collect()
    }
    assert merged == want


def test_run_stream_entry_point_incremental(spark, fixture_dir, tmp_path):
    """jobs/run_stream.py: spark-submit-shaped streaming entry. Drain a
    pages dir, merge; drop MORE files in, rerun with the same checkpoint —
    only the new files process (incremental-crawl loop) and the merged
    triples equal the batch pipeline over the union corpus."""
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_stream

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    half = F.pmod(F.xxhash64("url", F.lit(7)), F.lit(2))
    src = str(tmp_path / "pages_in")
    pages.filter(half == 0).coalesce(1).write.parquet(src, mode="overwrite")

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    argv = ["--pages", src, "--fixtures", fixture_dir,
            "--output", out, "--checkpoint", ck,
            "--shuffle-partitions", "8", "--merge"]
    s1 = run_stream.main(argv)
    assert s1["n_batches_total"] >= 1 and s1["n_triples"] > 0

    # crawl grows: add the second half, rerun same checkpoint
    pages.filter(half == 1).coalesce(1).write.mode("append").parquet(src)
    s2 = run_stream.main(argv)
    assert s2["n_batches_total"] > s1["n_batches_total"]
    assert s2["n_urls_processed"] > s1["n_urls_processed"]

    from nary_relation_extraction_decomposed_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    want = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in run_pipeline(
            pages, gaz, rules, PipelineConfig(canonicalize=False)
        ).triples.collect()
    }
    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in spark.read.parquet(os.path.join(out, "triples")).collect()
    }
    assert got == want and got


def test_run_stream_canonicalize_matches_batch_and_empty_source(
    spark, fixture_dir, tmp_path
):
    """--merge --canonicalize must EXACTLY equal run_pipeline(union corpus,
    canonicalize=True): the canonical map is built from the mention-
    surfaces sidecar (latest batch per url), not from triples' subj/obj —
    which both include superseded surfaces and miss mention-only cluster
    members. Also: a drain of an EMPTY source reports zero stats instead
    of crashing on the nonexistent delta dir."""
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    import run_stream

    # empty source: no batches, no crash
    empty_src = str(tmp_path / "empty_in")
    os.makedirs(empty_src)
    s0 = run_stream.main(
        ["--pages", empty_src, "--fixtures", fixture_dir,
         "--output", str(tmp_path / "out0"),
         "--checkpoint", str(tmp_path / "ck0"),
         "--shuffle-partitions", "8", "--merge"]
    )
    assert s0 == {**s0, "n_delta_rows": 0, "n_batches_total": 0,
                  "n_urls_processed": 0}

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    half = F.pmod(F.xxhash64("url", F.lit(7)), F.lit(2))
    src = str(tmp_path / "pages_in")
    pages.filter(half == 0).coalesce(1).write.parquet(src, mode="overwrite")
    pages.filter(half == 1).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    s = run_stream.main(
        ["--pages", src, "--fixtures", fixture_dir, "--output", out,
         "--checkpoint", str(tmp_path / "ck"),
         "--shuffle-partitions", "8", "--merge", "--canonicalize"]
    )
    assert s["n_batches_total"] >= 2 and s["n_triples"] > 0

    from nary_relation_extraction_decomposed_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    want = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in run_pipeline(
            pages, gaz, rules, PipelineConfig(canonicalize=True)
        ).triples.collect()
    }
    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in spark.read.parquet(os.path.join(out, "triples")).collect()
    }
    assert got == want and got
