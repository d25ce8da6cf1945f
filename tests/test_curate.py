"""operators/curate + jobs/run_curate.py: the curation funnel.

Planted corpus semantics (quality gate, exact-dup survivor, near-dup
CLUSTER survivor, stratified sample), end-to-end determinism and sample
nesting, and one subprocess run of the CLI over driver testdata.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from nary_relation_extraction_decomposed_spark.operators.curate import curate_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

BASE = ("the quick brown fox jumps over the lazy dog and runs through "
        "the green field while the sun shines bright ") * 4


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE + "alpha end", "en"),
        (2, BASE + "alpha end", "en"),     # exact dup of 1
        (3, BASE + "beta end", "en"),      # near-dup of 1 (one token)
        (4, BASE + "gamma end", "en"),     # near-dup of 1/3 (transitive)
        (5, "!!! ??? ;;; :::", "en"),      # junk: zero tokens
        (6, "the and for are with this that from they have been "
            "what were when your said each which their time will", "de"),
        (7, "completely different text about spark shuffles and "
            "the adaptive query execution engine behavior model", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_funnel_semantics(corpus):
    stages = curate_corpus(corpus, min_quality=0.05)
    assert _ids(stages["quality"]) == [1, 2, 3, 4, 6, 7]  # junk 5 gated
    assert _ids(stages["exact"]) == [1, 3, 4, 6, 7]       # 2 exact-dups 1
    # 1~3~4 near-dup cluster -> min-id survivor only
    assert _ids(stages["neardup"]) == [1, 6, 7]
    # default_rate=1.0, no rates -> sampling keeps everything
    assert _ids(stages["sampled"]) == [1, 6, 7]


def test_null_text_never_survives(spark, corpus):
    """Exact dedup inner-joins on md5(text), and md5(NULL) never joins — so
    a null-text doc escaping the quality gate would also escape the
    min-id-per-content rule (two null-text docs would both survive). The
    gate must drop them at any min_quality."""
    nulls = spark.createDataFrame(
        [(8, None, "en"), (9, None, "en"), (10, None, "de")], corpus.schema
    )
    stages = curate_corpus(corpus.unionByName(nulls), min_quality=0.0)
    for name, df in stages.items():
        ids = _ids(df)
        assert not {8, 9, 10} & set(ids), (name, ids)
        assert df.filter(F.col("text").isNull()).count() == 0, name
    assert _ids(stages["quality"]) == [1, 2, 3, 4, 5, 6, 7]
    # the zero-token junk doc passes a 0.0 gate; with fewer tokens than
    # the shingle size it has no shingles, so it is nobody's near-dup
    assert _ids(stages["sampled"]) == [1, 5, 6, 7]


def test_quality_score_null_text_is_null(spark):
    """quality_score_col and its DuckDB twin (the text_metrics oracle)
    score NULL text NULL, not 0.9 (least(NULL, 1.0) is 1.0 in both
    engines), and agree on every other row."""
    import duckdb

    from nary_relation_extraction_decomposed_spark.functions.text_metrics import (
        quality_score_col,
    )
    from nary_relation_extraction_decomposed_spark.plans.q_text import ORACLES

    rows = [(1, BASE, "en"), (2, None, "en"), (3, "", "en"),
            (4, "!!! ???", "en"), (5, "the data, for the data.", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r.q for r in df.select(
        "doc_id", quality_score_col(F.col("text")).alias("q")).collect()}
    assert got[2] is None
    assert all(got[i] is not None for i in (1, 3, 4, 5))

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                    "lang VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
        twin = {i: q for i, q in con.execute(
            f"SELECT doc_id, q_score FROM ({ORACLES['text_metrics']})"
        ).fetchall()}
    finally:
        con.close()
    assert twin == got


def test_curate_layers_called_through_module_globals(corpus, monkeypatch):
    """curate_corpus reaches its near-dup layers through curate's module
    globals, so a wrapper patched onto each (as a traced benchmark run
    does) sees exactly one call per curate_corpus."""
    from nary_relation_extraction_decomposed_spark.operators import curate

    calls = {}

    def counting(name):
        orig = getattr(curate, name)

        def wrapper(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(curate, name, wrapper)

    names = ("minhash_signatures_wide", "minhash_pairs_from_sigs",
             "connected_components")
    for name in names:
        counting(name)
    out = curate.curate_corpus(corpus, min_quality=0.05)
    assert _ids(out["neardup"]) == [1, 6, 7]
    assert calls == dict.fromkeys(names, 1)


def test_neardup_verification_threshold(corpus):
    # a threshold above 1.0 can never be met, so every LSH candidate pair
    # is rejected at verification and the near-dup stage drops nothing
    stages = curate_corpus(corpus, min_quality=0.05, verify_threshold=1.01)
    assert _ids(stages["neardup"]) == _ids(stages["exact"])
    # None restores the pre-verification behavior: every band collision
    # enters the clustering (ADVICE r6 false-positive exposure, kept as an
    # explicit opt-out)
    legacy = curate_corpus(corpus, min_quality=0.05, verify_threshold=None)
    assert _ids(legacy["neardup"]) == [1, 6, 7]


def test_deterministic_and_nested(corpus):
    a = _ids(curate_corpus(corpus, min_quality=0.05)["sampled"])
    b = _ids(curate_corpus(corpus, min_quality=0.05)["sampled"])
    assert a == b
    low = set(_ids(curate_corpus(
        corpus, min_quality=0.05, rates={"en": 0.3}, default_rate=1.0
    )["sampled"]))
    high = set(_ids(curate_corpus(
        corpus, min_quality=0.05, rates={"en": 0.9}, default_rate=1.0
    )["sampled"]))
    assert low <= high  # nested: raising a rate only adds documents


def test_run_curate_cli_end_to_end(spark, tmp_path):
    out_dir = str(tmp_path / "curated")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_curate.py"),
         "--input", os.path.join(SF_SMALL, "documents.parquet"),
         "--output", out_dir, "--min-quality", "0.05",
         "--rate", "en=0.5", "--default-rate", "0.25",
         "--shuffle-partitions", "8"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    funnel = json.loads(res.stdout.strip().splitlines()[-1])
    assert funnel["input"] == 500
    assert (funnel["input"] >= funnel["quality"] >= funnel["exact"]
            >= funnel["neardup"] >= funnel["sampled"] > 0)
    written = spark.read.parquet(out_dir)
    assert written.count() == funnel["sampled"]
    # the written corpus is itself exactly reproducible operator-side
    docs = spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
    again = curate_corpus(
        docs, min_quality=0.05, rates={"en": 0.5}, default_rate=0.25
    )["sampled"]
    assert _ids(written) == _ids(again)
