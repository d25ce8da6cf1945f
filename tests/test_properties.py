"""Engine-level invariants (SURVEY.md §5.3):
- triple set invariant under input partitioning / row order
- dedup idempotence
- kill-resume: checkpointed rerun skips stages and reproduces output exactly
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from nary_relation_extraction_decomposed_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
    run_pipeline_checkpointed,
)


def _triples_set(df):
    return {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in df.select("subj", "pred", "obj", "support").collect()
    }


@pytest.fixture(scope="module")
def inputs(spark, fixture_dir):
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    # cap corpus for speed; deterministic subset
    pages = pages.filter(F.xxhash64("url") % 4 == 0)
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    return pages, gaz, rules


def test_partition_invariance(spark, inputs):
    pages, gaz, rules = inputs
    base = run_pipeline(pages, gaz, rules, PipelineConfig()).triples
    shuffled = run_pipeline(
        pages.repartition(17).sortWithinPartitions(F.col("warc_ts")),
        gaz, rules, PipelineConfig(),
    ).triples
    assert _triples_set(base) == _triples_set(shuffled)


def test_kill_resume(spark, inputs, tmp_path):
    pages, gaz, rules = inputs
    root = str(tmp_path / "ckpt")
    cfg = PipelineConfig()

    r1, ck1 = run_pipeline_checkpointed(pages, gaz, rules, cfg, root, "corpus-v1")
    t1 = _triples_set(r1.triples)
    assert all(not st["skipped"] for st in ck1.stats.values())

    # simulate a kill AFTER combined but BEFORE triples committed
    shutil.rmtree(os.path.join(root, "triples"))

    r2, ck2 = run_pipeline_checkpointed(pages, gaz, rules, cfg, root, "corpus-v1")
    assert ck2.stats["docs"]["skipped"]
    assert ck2.stats["combined"]["skipped"]
    assert not ck2.stats["triples"]["skipped"]
    assert _triples_set(r2.triples) == t1

    # full rerun: everything skipped, output identical
    r3, ck3 = run_pipeline_checkpointed(pages, gaz, rules, cfg, root, "corpus-v1")
    assert all(st["skipped"] for st in ck3.stats.values())
    assert _triples_set(r3.triples) == t1

    # manifest sanity: per-partition lineage rows sum to stage rows
    with open(os.path.join(root, "triples", "manifest.json")) as f:
        m = json.load(f)
    assert m["committed"] and m["n_rows"] == sum(p["rows"] for p in m["partitions"])

    # changed upstream fingerprint invalidates the chain
    _, ck4 = run_pipeline_checkpointed(pages, gaz, rules, cfg, root, "corpus-v2")
    assert all(not st["skipped"] for st in ck4.stats.values())


def test_aux_input_change_invalidates_suffix(spark, inputs, tmp_path):
    """v3 fingerprints: the gazetteer and rule-table CONTENT chain into
    the stages that consume them. Editing the rule table and rerunning
    against the same checkpoint root must rebuild EXACTLY combined (whose
    pair rows apply the rules) and triples — not replay stale triples, the
    pre-v3 bug — and skip docs and canon (mentions ignore the rules);
    editing the gazetteer must rebuild the combined suffix but still skip
    docs."""
    pages, gaz, rules = inputs
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    root = str(tmp_path / "ckpt")
    cfg = PipelineConfig()

    r1, ck1 = run_pipeline_checkpointed(pages, gaz, rules, cfg, root, "c1")
    t1 = _triples_set(r1.triples)

    # rules edit -> ONLY combined + triples rebuild, and the output tracks
    # the edit
    rules2 = rules.withColumn(
        "pred_a", F.concat(F.col("pred_a"), F.lit("_v2"))
    )
    r2, ck2 = run_pipeline_checkpointed(pages, gaz, rules2, cfg, root, "c1")
    assert {s for s, st in ck2.stats.items() if st["skipped"]} == {
        "docs", "canon"}
    assert {s for s, st in ck2.stats.items() if not st["skipped"]} == {
        "combined", "triples"}
    t2 = _triples_set(r2.triples)
    assert t2 != t1
    assert not any(p.endswith("_v2") for _, p, _, _ in t1)
    assert any(p.endswith("_v2") for _, p, _, _ in t2)

    # gazetteer edit -> combined suffix rebuilds, docs still skips
    gaz2 = gaz.limit(max(gaz.count() - 5, 1))
    _, ck3 = run_pipeline_checkpointed(pages, gaz2, rules2, cfg, root, "c1")
    assert ck3.stats["docs"]["skipped"]
    assert not ck3.stats["combined"]["skipped"]
    assert not ck3.stats["triples"]["skipped"]


def test_fused_rejoin_checkpoint_resume(spark, inputs, tmp_path):
    """The fused_rejoin doc pass runs the same stages as the default lane
    (docs -> combined -> canon -> triples; no second detection pass), is
    checkpoint-resumable and triple-identical to both the default
    checkpointed lane and the non-checkpointed fused pipeline."""
    import dataclasses

    pages, gaz, rules = inputs
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    cfg = dataclasses.replace(PipelineConfig(), fused_rejoin=True)
    root = str(tmp_path / "ckpt_fused")

    want = _triples_set(run_pipeline(pages, gaz, rules, cfg).triples)
    staged, _ = run_pipeline_checkpointed(
        pages, gaz, rules, PipelineConfig(), str(tmp_path / "ckpt_staged"),
        "c1",
    )
    assert _triples_set(staged.triples) == want

    r1, ck1 = run_pipeline_checkpointed(pages, gaz, rules, cfg, root, "c1")
    assert _triples_set(r1.triples) == want
    assert set(ck1.stats) == {"docs", "combined", "canon", "triples"}
    assert all(not st["skipped"] for st in ck1.stats.values())

    # full rerun skips every stage and reproduces the output exactly
    r2, ck2 = run_pipeline_checkpointed(pages, gaz, rules, cfg, root, "c1")
    assert all(st["skipped"] for st in ck2.stats.values())
    assert _triples_set(r2.triples) == want

    # kill between combined and triples -> resume rebuilds only the tail
    shutil.rmtree(os.path.join(root, "triples"))
    r3, ck3 = run_pipeline_checkpointed(pages, gaz, rules, cfg, root, "c1")
    assert ck3.stats["combined"]["skipped"] and ck3.stats["canon"]["skipped"]
    assert not ck3.stats["triples"]["skipped"]
    assert _triples_set(r3.triples) == want

    # rules edit -> combined + triples rebuild; docs/canon skip
    rules2 = rules.withColumn(
        "pred_a", F.concat(F.col("pred_a"), F.lit("_v2"))
    )
    _, ck4 = run_pipeline_checkpointed(pages, gaz, rules2, cfg, root, "c1")
    assert ck4.stats["docs"]["skipped"] and ck4.stats["canon"]["skipped"]
    assert not ck4.stats["combined"]["skipped"]
    assert not ck4.stats["triples"]["skipped"]


def test_dedup_idempotence(spark, inputs):
    from nary_relation_extraction_decomposed_spark.operators.textprep import (
        dedup_latest_text,
    )

    pages, _, _ = inputs
    once = dedup_latest_text(pages)
    twice = dedup_latest_text(once)
    assert once.count() == twice.count() == pages.select("url").distinct().count()
    a = {tuple(r) for r in once.select("url", "warc_ts").collect()}
    b = {tuple(r) for r in twice.select("url", "warc_ts").collect()}
    assert a == b


def test_dedup_latest_text_dotted_payload_column(spark):
    """A payload column whose name contains a dot is one column, not a
    struct path: it rides through the latest-per-url pick unchanged."""
    from nary_relation_extraction_decomposed_spark.operators.textprep import (
        dedup_latest_text,
    )

    docs = spark.createDataFrame(
        [("u1", 1, "old", "a"), ("u1", 2, "new", "b"), ("u2", 1, "x", "c")],
        "url string, warc_ts long, text string, `meta.src` string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    out = dedup_latest_text(docs)
    assert out.columns == docs.columns
    assert sorted((r["url"], r["text"], r["meta.src"]) for r in out.collect()) == [
        ("u1", "new", "b"), ("u2", "x", "c")]
