"""Arity > 3: 4-ary relations (pivot + slots a, b, c) through the FULL
pipeline — detection, fused graph/BFS evidence, decomposition, generalized
rejoin — with P=R=1.0 against a hand-computed golden triple set."""

from __future__ import annotations

import datetime

import pytest

from nary_relation_extraction_decomposed_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)

TS = datetime.datetime(2024, 1, 1)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(url, TS, None, text, "en") for url, text in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def _gaz(spark):
    return spark.createDataFrame(
        [
            ("alpha", "E1", "PIV"),
            ("beta", "E2", "A"),
            ("gamma", "E3", "B"),
            ("delta", "E4", "C"),
        ],
        "surface_norm string, ent_id string, ent_type string",
    )


CFG_4ARY = PipelineConfig(
    pivot_type="PIV",
    arg_slots=(("A", "a"), ("B", "b"), ("C", "c")),
    pred_vocab=("links",),
    canonicalize=False,
)


def _slot_rules(spark):
    return spark.createDataFrame(
        [("a", "links", "links.a"), ("b", "links", "links.b"),
         ("c", "links", "links.c")],
        "slot string, pred string, pred_out string",
    )


def test_4ary_pipeline_golden(spark):
    """Golden by construction:
    u1/u2: all three slots + predicate in one sentence -> full instance.
    u3:    slot c absent -> NO instance (every slot must fill).
    u4:    no predicate in the pivot sentence -> dropped.
    u5:    slots split across adjacent sentences (BFS path_len 3 <= cap)
           -> full instance.
    Expected: exactly the 3 decomposed triples of the 4-ary instance,
    support = |{u1, u2, u5}| = 3 each. P = R = 1.0.
    """
    pages = _pages(spark, [
        ("u1", "alpha beta gamma delta links"),
        ("u2", "alpha beta gamma delta links"),
        ("u3", "alpha beta gamma links"),
        ("u4", "alpha beta gamma delta"),
        ("u5", "alpha beta links\ngamma delta"),
    ])
    res = run_pipeline(pages, _gaz(spark), _slot_rules(spark), CFG_4ARY)
    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in res.triples.collect()
    }
    want = {
        ("alpha", "links.a", "beta", 3),
        ("alpha", "links.b", "gamma", 3),
        ("alpha", "links.c", "delta", 3),
    }
    assert got == want


def test_4ary_multiple_slot_fillers_cross_product(spark):
    """Two fillers for slot a in one doc -> two candidate 4-ary instances
    (cross product per slot), but the decomposed TRIPLE set unions them."""
    pages = _pages(spark, [("u1", "alpha beta beta gamma delta links")])
    res = run_pipeline(pages, _gaz(spark), _slot_rules(spark), CFG_4ARY)
    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in res.triples.collect()
    }
    assert got == {
        ("alpha", "links.a", "beta", 1),
        ("alpha", "links.b", "gamma", 1),
        ("alpha", "links.c", "delta", 1),
    }


def test_binary_rule_table_rejects_higher_arity(spark):
    """The legacy (subrel_a, subrel_b) rule table only encodes slots (a, b);
    using it with 3 arg slots must fail loudly, not silently drop slot c."""
    pages = _pages(spark, [("u1", "alpha beta gamma delta links")])
    legacy_rules = spark.createDataFrame(
        [("links#a", "links#b", "links", "links.ctx")],
        "subrel_a string, subrel_b string, pred_a string, pred_b string",
    )
    with pytest.raises(ValueError, match="arity 4"):
        run_pipeline(pages, _gaz(spark), legacy_rules, CFG_4ARY).triples.count()


def test_incremental_new_triples(spark):
    """Incremental run: triples from a grown corpus diffed against the
    previous snapshot = exactly the triples whose key did not exist."""
    from nary_relation_extraction_decomposed_spark.operators.triples import (
        new_triples,
    )

    old_pages = _pages(spark, [("u1", "alpha beta gamma delta links")])
    grown = _pages(spark, [
        ("u1", "alpha beta gamma delta links"),
        ("u2", "alpha beta beta2 gamma delta links"),
    ])
    gaz2 = _gaz(spark).union(
        spark.createDataFrame([("beta2", "E5", "A")], _gaz(spark).schema)
    )
    prev = run_pipeline(old_pages, gaz2, _slot_rules(spark), CFG_4ARY).triples
    cur = run_pipeline(grown, gaz2, _slot_rules(spark), CFG_4ARY).triples
    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in new_triples(cur, prev).collect()
    }
    # only the beta2 argument creates a brand-new key; everything else
    # existed in the snapshot (support growth is not a "new" triple)
    assert got == {("alpha", "links.a", "beta2", 1)}


def test_slot_rules_work_for_3ary_too(spark):
    """The generalized path is schema-dispatched, not arity-dispatched: a
    (slot, pred, pred_out) table with the default 2 arg slots runs the
    n-ary rejoin and yields the per-slot decomposed triples."""
    pages = _pages(spark, [("u1", "alpha beta gamma links")])
    cfg = PipelineConfig(
        pivot_type="PIV", arg_slots=(("A", "a"), ("B", "b")),
        pred_vocab=("links",), canonicalize=False,
    )
    rules = spark.createDataFrame(
        [("a", "links", "links.a"), ("b", "links", "links.b")],
        "slot string, pred string, pred_out string",
    )
    res = run_pipeline(pages, _gaz(spark), rules, cfg)
    got = {
        (r["subj"], r["pred"], r["obj"], r["support"])
        for r in res.triples.collect()
    }
    assert got == {
        ("alpha", "links.a", "beta", 1),
        ("alpha", "links.b", "gamma", 1),
    }


def test_4ary_fused_rejoin_equals_staged(spark):
    """Round 6: the fused per-doc rejoin (doc_kg_pairs nary dispatch via
    PipelineConfig.fused_rejoin) must reproduce the staged rejoin_nary
    chain exactly at arity 4 — including a duplicate (slot, pred) rule
    table, where every rule row emits."""
    import dataclasses

    pages = _pages(spark, [
        ("u1", "alpha beta gamma delta links"),
        ("u2", "alpha beta gamma delta links"),
        ("u3", "alpha beta gamma links"),            # slot c missing
        ("u4", "alpha beta gamma delta"),            # no predicate
        ("u5", "alpha beta links\ngamma delta"),     # cross-sentence BFS
        ("u6", "alpha beta beta gamma delta links"), # multi-filler slot a
    ])
    cfg_fused = dataclasses.replace(CFG_4ARY, fused_rejoin=True)

    def triples(rules, cfg):
        res = run_pipeline(pages, _gaz(spark), rules, cfg)
        return {
            (r["subj"], r["pred"], r["obj"], r["support"])
            for r in res.triples.collect()
        }

    rules = _slot_rules(spark)
    want = triples(rules, CFG_4ARY)
    assert triples(rules, cfg_fused) == want and want

    rules_dup = rules.unionByName(spark.createDataFrame(
        [("a", "links", "links.a2")],
        "slot string, pred string, pred_out string",
    ))
    want_dup = triples(rules_dup, CFG_4ARY)
    assert triples(rules_dup, cfg_fused) == want_dup
    assert len(want_dup) > len(want)

    # an EMPTY nary rule table keeps nary semantics (zero triples) in both
    # lanes — the fused path dispatches on the schema, not the first row
    # (review r6 cont.: it used to fall into the binary branch and raise)
    rules_empty = rules.filter("pred = 'nonexistent'")
    assert triples(rules_empty, CFG_4ARY) == set()
    assert triples(rules_empty, cfg_fused) == set()
