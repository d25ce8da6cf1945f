"""textprep.resolve_text: one plan shape (provided-text rows stay in the
JVM, only text-null rows cross into Python) and the pipeline's extraction
counts, observed in the JVM over that same plan."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Observation

from nary_relation_extraction_decomposed_spark.extract.html import extract_text
from nary_relation_extraction_decomposed_spark.operators.textprep import (
    filter_pages,
    resolve_text,
)
from nary_relation_extraction_decomposed_spark.plans.catalog import (
    write_triples_table,
)
from nary_relation_extraction_decomposed_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
    run_pipeline_checkpointed,
)


def _inputs(spark, fixture_dir):
    return [
        spark.read.parquet(os.path.join(fixture_dir, f"{name}.parquet"))
        for name in ("pages", "gazetteer", "pred_rules")
    ]


def _expected_counts(fixture_dir) -> dict:
    """The four counts in pure Python over the rows filter_pages keeps."""
    rows = pq.read_table(os.path.join(fixture_dir, "pages.parquet")).to_pylist()
    kept = [
        r for r in rows
        if r["lang"] == "en" and (r["text"] is not None or r["html"] is not None)
    ]
    provided = [r for r in kept if r["text"] is not None]
    texts = [
        r["text"] if r["text"] is not None else extract_text(r["html"])
        for r in kept
    ]
    return {
        "docs_in": len(kept),
        "from_html": len(kept) - len(provided),
        "provided_text": len(provided),
        "empty_text": sum(1 for t in texts if not t),
    }


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pipeline_extraction_counts(spark, fixture_dir, tmp_path):
    pages, gaz, rules = _inputs(spark, fixture_dir)
    want = _expected_counts(fixture_dir)
    assert want == {
        "docs_in": 1853, "from_html": 1814, "provided_text": 39, "empty_text": 0,
    }

    observed = run_pipeline(pages, gaz, rules, PipelineConfig(collect_metrics=True))
    write_triples_table(observed.triples, str(tmp_path / "triples"))
    assert observed.metrics.get == want

    plain = run_pipeline(pages, gaz, rules, PipelineConfig())
    assert plain.metrics is None
    assert _sorted_rows(observed.triples) == _sorted_rows(plain.triples)
    assert _sorted_rows(observed.docs) == _sorted_rows(plain.docs)


def test_empty_text_counts_extracted_and_provided(spark):
    ts = dt.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("u1", ts, bytearray(b"<html><script>x</script></html>"), None, "en"),
            ("u2", ts, None, "", "en"),
            ("u3", ts, bytearray(b"<p>kept</p>"), None, "en"),
            ("u4", ts, None, "provided", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    obs = Observation()
    out = resolve_text(filter_pages(pages), observation=obs)
    assert sorted(r.text for r in out.collect()) == ["", "", "kept", "provided"]
    assert obs.get == {
        "docs_in": 4, "from_html": 2, "provided_text": 2, "empty_text": 2,
    }


def test_checkpointed_rejects_collect_metrics(spark, fixture_dir, tmp_path):
    pages, gaz, rules = _inputs(spark, fixture_dir)
    with pytest.raises(ValueError, match="collect_metrics"):
        run_pipeline_checkpointed(
            pages, gaz, rules, PipelineConfig(collect_metrics=True),
            str(tmp_path / "ckpt"), corpus_fp="fixture",
        )


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _nodes(node):
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    out = [node]
    for child in _children(node):
        out.extend(_nodes(child))
    return out


def _output_names(node) -> list[str]:
    attrs = node.output()
    return [attrs.apply(i).name() for i in range(attrs.size())]


@pytest.mark.parametrize("observed", [False, True])
def test_resolve_text_plan_shape(spark, fixture_dir, observed):
    """One Python crossing fed (url, warc_ts, html) only; the provided-text
    rows join the output through a Union branch with no Python in it."""
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    out = resolve_text(
        filter_pages(pages), observation=Observation() if observed else None
    )
    nodes = _nodes(out._jdf.queryExecution().executedPlan())

    def has_python(node):
        return any(n.nodeName() == "MapInPandas" for n in _nodes(node))

    maps = [n for n in nodes if n.nodeName() == "MapInPandas"]
    assert len(maps) == 1
    assert _output_names(maps[0].child()) == ["url", "warc_ts", "html"]
    unions = [n for n in nodes if n.nodeName() == "Union"]
    assert len(unions) == 1
    jvm_branches = [c for c in _children(unions[0]) if not has_python(c)]
    assert len(jvm_branches) == 1
    assert "text" in _output_names(jvm_branches[0])
    assert any(n.nodeName() == "CollectMetrics" for n in nodes) == observed
