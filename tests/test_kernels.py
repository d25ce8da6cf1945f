"""Kernel-level invariants: SQL<->Python spec agreement, extractor
determinism, tokenizer/gazetteer behavior."""

from __future__ import annotations

import pyspark.sql.functions as F

from nary_relation_extraction_decomposed_spark.extract.html import extract_text
from nary_relation_extraction_decomposed_spark.functions import textnorm
from nary_relation_extraction_decomposed_spark.operators.kernels import (
    GazetteerIndex,
    detect_mentions_in_text,
    doc_evidence,
    doc_pairs,
    tokenize_with_offsets,
)

SAMPLES = [
    "Adri-vax", "ADRIVAX", "adrivax", "BRC7", "V600E", "Fen sotax",
    "  weird   spacing  ", "punct,.;!", "café naïve", "a", "", "x1-y2_z3",
]


def test_normalize_sql_matches_python(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], "s string")
    got = df.select(
        textnorm.normalize_surface_col(F.col("s")).alias("n"),
        textnorm.compact_form_col(F.col("s")).alias("c"),
        textnorm.shingles_col(F.col("s")).alias("sh"),
    ).collect()
    for s, row in zip(SAMPLES, got):
        assert row["n"] == textnorm.normalize_surface(s), s
        assert row["c"] == textnorm.compact_form(s), s
        assert list(row["sh"]) == textnorm.shingles(s), s


def test_extractor_basics():
    html = (
        b"<html><head><title>T&amp;A</title><style>p{x}</style></head>"
        b"<body><!-- c --><p>hello <b>world</b></p><p>&#x41;&#66;&eacute;</p>"
        b"<script>var x=1;</script></body></html>"
    )
    assert extract_text(html) == "T&A\nhello world\nABé"
    assert extract_text(None) == ""
    assert extract_text(b"") == ""
    # latin-1 fallback
    assert extract_text("café".encode("latin-1")) == "café"
    # truncated html is total and deterministic
    assert extract_text(b"<html><body><p>abc<") == "abc<"
    # idempotent determinism
    assert extract_text(html) == extract_text(html)


def test_tokenizer_offsets():
    toks = tokenize_with_offsets("Adri-vax BINDS gene7!")
    assert toks == [("adri", 0, 4), ("vax", 5, 8), ("binds", 9, 14), ("gene7", 15, 20)]


def test_enrichment_properties_random_layouts():
    """Property over random mention layouts (hypothesis): the enriched
    graph only ever SHORTENS paths — (a) co-mention alone never changes
    the accepted pair set vs the base graph; (b) full enrichment accepts a
    superset; (c) for pairs both accept, enriched path_len <= base."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nary_relation_extraction_decomposed_spark.operators.kernels import (
        bfs_evidence,
    )

    types = ["DRUG", "GENE", "VARIANT", "OTHER"]
    mention = st.tuples(
        st.sampled_from(types), st.integers(0, 5), st.integers(0, 7)
    )  # (ent_type, sent_id, tok_begin); tok span = 1 token

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(mention, min_size=0, max_size=10),
        st.integers(6, 10),  # uniform sentence token count
        st.integers(0, 14),  # token window
    )
    def prop(raw, ntoks, window):
        n_sents = 6
        ms = [
            {"mention_id": i, "ent_type": t, "sent_id": s,
             "tok_begin": min(tb, ntoks - 1), "tok_end": min(tb, ntoks - 1) + 1}
            for i, (t, s, tb) in enumerate(raw)
        ]
        counts = [ntoks] * n_sents
        slots = [("GENE", "a"), ("VARIANT", "b")]

        def pairs(rows):
            return {(r["pivot_mid"], r["other_mid"]): r["path_len"] for r in rows}

        base = pairs(bfs_evidence(n_sents, ms, "DRUG", slots,
                                  co_mention_edges=False, token_window=None))
        co = pairs(bfs_evidence(n_sents, ms, "DRUG", slots,
                                co_mention_edges=True, token_window=None))
        rich = pairs(bfs_evidence(n_sents, ms, "DRUG", slots,
                                  co_mention_edges=True, token_window=window,
                                  sent_tok_counts=counts))
        assert set(co) == set(base)                      # (a)
        assert set(rich) >= set(base)                    # (b)
        for k, d in base.items():                        # (c)
            assert rich[k] <= d and co[k] <= d

    prop()


def test_unknown_tok_counts_create_no_window_edges():
    """A None entry in sent_tok_counts (sentence rows absent — the fallback
    path that derives n_sents from mentions) must create NO token-window
    edges across that boundary: the old 0-default made the cross-boundary
    gap (ntoks - tok_end) + tok_begin negative and fabricated proximity
    edges, emitting evidence the golden kernel would not."""
    from nary_relation_extraction_decomposed_spark.operators.kernels import (
        bfs_evidence,
    )

    # pivot in sent 0, arg in sent 2 — base-graph distance 4 (> MAX_PATH_LEN
    # 3), acceptable ONLY via chained window edges through sent 1
    ms = [
        {"mention_id": 0, "ent_type": "DRUG", "sent_id": 0,
         "tok_begin": 5, "tok_end": 6},
        {"mention_id": 1, "ent_type": "OTHER", "sent_id": 1,
         "tok_begin": 0, "tok_end": 1},
        {"mention_id": 2, "ent_type": "GENE", "sent_id": 2,
         "tok_begin": 0, "tok_end": 1},
    ]
    slots = [("GENE", "a")]
    # with REAL small counts, the chain is accepted (sanity: the layout is
    # one the window enrichment genuinely accepts)...
    known = bfs_evidence(3, ms, "DRUG", slots, sent_tok_counts=[6, 1, 4])
    assert {(r["pivot_mid"], r["other_mid"]) for r in known} == {(0, 2)}
    # ...with UNKNOWN counts, no window edges may be fabricated
    assert bfs_evidence(3, ms, "DRUG", slots,
                        sent_tok_counts=[None, None, None]) == []


def test_gazetteer_longest_match():
    gaz = GazetteerIndex.build(
        [("adri vax", "D1", "DRUG"), ("adri", "D2", "DRUG"), ("brc7", "G1", "GENE")]
    )
    text = "Adri-vax binds BRC7.\nadri alone."
    ms = detect_mentions_in_text(text, gaz)
    assert [(m["ent_id"], m["surface_norm"], m["sent_id"]) for m in ms] == [
        ("D1", "adri vax", 0),
        ("G1", "brc7", 0),
        ("D2", "adri", 1),
    ]
    # offsets slice the original text
    for m in ms:
        assert text[m["begin"]:m["end"]] == m["surface"]


def test_doc_evidence_and_doc_pairs_by_hand():
    """doc_evidence resolves surfaces and the pivot's nearest predicate;
    doc_pairs rejoins one document: every slot must fill with a non-null
    pred and have a rule, every rule row emits, unknown slots never join."""
    ms = [
        {"mention_id": 0, "ent_type": "PIV", "sent_id": 0,
         "surface_norm": "alpha", "tok_begin": 0, "tok_end": 1},
        {"mention_id": 1, "ent_type": "A", "sent_id": 0,
         "surface_norm": "beta", "tok_begin": 1, "tok_end": 2},
        {"mention_id": 2, "ent_type": "B", "sent_id": 0,
         "surface_norm": "gamma", "tok_begin": 2, "tok_end": 3},
    ]
    ev = doc_evidence(1, ms, {0: (["links", "binds"], [3, 5])}, [6],
                      "PIV", [("A", "a"), ("B", "b")])
    assert [(r["pivot_norm"], r["other_norm"], r["slot"], r["pred"],
             r["pivot_sent"]) for r in ev] == [
        ("alpha", "beta", "a", "links", 0),
        ("alpha", "gamma", "b", "links", 0),
    ]
    rules = {("a", "links"): ["L_A", "L_A2"], ("b", "links"): ["L_B"]}
    assert doc_pairs(ev, rules, ["a", "b"]) == {
        ("alpha", "L_A", "beta"), ("alpha", "L_A2", "beta"),
        ("alpha", "L_B", "gamma"),
    }
    # a slot without a rule, a missing slot, a pred-less pivot: nothing
    assert doc_pairs(ev, {("a", "links"): ["L_A"]}, ["a", "b"]) == set()
    assert doc_pairs(ev, {**rules, ("c", "links"): ["L_C"]},
                     ["a", "b", "c"]) == set()
    assert doc_pairs([{**r, "pred": None} for r in ev], rules,
                     ["a", "b"]) == set()
    # no predicate token in the pivot's sentence -> pred None
    assert {r["pred"] for r in doc_evidence(
        1, ms, {0: ([], [])}, [6], "PIV", [("A", "a"), ("B", "b")])} == {None}
