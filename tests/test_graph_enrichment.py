"""Doc-graph enrichment (the dependency/coref stand-in, DEFAULT ON):
- co-mention edges: same-sentence evidence becomes a length-1 direct path,
  acceptance under max_path_len provably unchanged vs the base graph
- token-window proximity edges: adjacent-sentence mentions within a
  TOKEN_WINDOW cross-boundary gap connect directly; two such hops CHAIN,
  accepting pivot->arg pairs two sentences apart that the base graph
  rejects (distance 4) — this is the acceptance delta the regenerated
  goldens pin (P/R vs the old base-graph goldens in BENCH/BASELINE.md)
- fused tagged path (ONE docs pass) == unfused operators, and the fused
  run_pipeline default == the unfused pipeline end to end."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from nary_relation_extraction_decomposed_spark.operators.kernels import (
    TOKEN_WINDOW,
    bfs_evidence,
)
from nary_relation_extraction_decomposed_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)

MS = [
    {"mention_id": 0, "ent_type": "DRUG", "sent_id": 0},
    {"mention_id": 1, "ent_type": "GENE", "sent_id": 0},
    {"mention_id": 2, "ent_type": "VARIANT", "sent_id": 1},
]
SLOTS = [("GENE", "a"), ("VARIANT", "b")]

# three sentences, one mention each, small cross-boundary token gaps:
# m0 DRUG ends 1 token before sent0's end; m1 GENE spans tokens 1-2 of
# sent1; m2 VARIANT starts at token 3 of sent2
TW_MS = [
    {"mention_id": 0, "ent_type": "DRUG", "sent_id": 0, "tok_begin": 6, "tok_end": 7},
    {"mention_id": 1, "ent_type": "GENE", "sent_id": 1, "tok_begin": 1, "tok_end": 2},
    {"mention_id": 2, "ent_type": "VARIANT", "sent_id": 2, "tok_begin": 3, "tok_end": 4},
]
TW_COUNTS = [8, 6, 9]  # gaps: m0->m1 = (8-7)+1 = 2; m1->m2 = (6-2)+3 = 7


def test_kernel_co_mention_shortcuts_same_sentence_only():
    base = {
        (r["other_mid"], r["slot"]): r["path_len"]
        for r in bfs_evidence(2, MS, "DRUG", SLOTS,
                              co_mention_edges=False, token_window=None)
    }
    rich = {
        (r["other_mid"], r["slot"]): r["path_len"]
        for r in bfs_evidence(2, MS, "DRUG", SLOTS,
                              co_mention_edges=True, token_window=None)
    }
    assert base == {(1, "a"): 2, (2, "b"): 3}
    # same-sentence pair direct (1 edge); adjacent-sentence pair unchanged
    assert rich == {(1, "a"): 1, (2, "b"): 3}
    # co-mention alone never changes acceptance
    assert set(base) == set(rich)


def test_kernel_enriched_path_is_valid_and_deterministic():
    rows = bfs_evidence(2, MS, "DRUG", SLOTS, co_mention_edges=True)
    by_pair = {(r["pivot_mid"], r["other_mid"]): r["path"] for r in rows}
    # direct mention->mention path: [node(m0), node(m1)] with S=2 offset
    assert by_pair[(0, 1)] == [2, 3]
    assert rows == bfs_evidence(2, MS, "DRUG", SLOTS, co_mention_edges=True)


def test_kernel_token_window_chains_two_boundaries():
    """Base graph: m0 (sent0) -> m2 (sent2) costs 4 edges — rejected at
    max_path_len=3. Window edges m0-m1 and m1-m2 chain it at distance 2."""
    base = {
        (r["other_mid"], r["slot"]): r["path_len"]
        for r in bfs_evidence(3, TW_MS, "DRUG", SLOTS,
                              co_mention_edges=False, token_window=None,
                              sent_tok_counts=TW_COUNTS)
    }
    rich = {
        (r["other_mid"], r["slot"]): r["path_len"]
        for r in bfs_evidence(3, TW_MS, "DRUG", SLOTS,
                              sent_tok_counts=TW_COUNTS)
    }
    assert base == {(1, "a"): 3}  # VARIANT two sentences away: rejected
    assert rich == {(1, "a"): 1, (2, "b"): 2}  # chained through the GENE
    # a too-narrow window adds no edges at all (gap 2 > window 1)
    narrow = bfs_evidence(3, TW_MS, "DRUG", SLOTS, token_window=1,
                          sent_tok_counts=TW_COUNTS)
    assert {(r["other_mid"], r["slot"]): r["path_len"] for r in narrow} == base


def test_kernel_token_window_skipped_without_tok_info():
    """Mentions lacking tok spans (or no sent_tok_counts) degrade to the
    co-mention graph — no crash, no spurious edges."""
    rows = bfs_evidence(2, MS, "DRUG", SLOTS, token_window=TOKEN_WINDOW)
    assert {(r["other_mid"], r["slot"]): r["path_len"] for r in rows} == {
        (1, "a"): 1, (2, "b"): 3,
    }


def _hrows(df):
    """Hash-safe sorted rows: array columns (preds/pred_toks) arrive as
    Python lists, which sets can't hold — coerce to tuples."""
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )


def test_combined_pass_equals_staged_operators(spark, fixture_dir):
    """doc_kg_combined (ONE mapInPandas, ZERO shuffles docs->evidence —
    valid because dedup leaves one row per url) must reproduce the staged
    operators' mentions, sentences, AND evidence frames exactly."""
    from nary_relation_extraction_decomposed_spark.operators.graph import (
        doc_graph_subrels,
        doc_kg_combined,
        evidence_from_combined,
        mentions_from_combined,
        sentences_from_combined,
    )
    from nary_relation_extraction_decomposed_spark.operators.mentions import (
        analyze_sentences,
        detect_mentions,
    )
    from nary_relation_extraction_decomposed_spark.operators.textprep import (
        dedup_latest_text,
        filter_pages,
        resolve_text,
    )

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    docs = dedup_latest_text(resolve_text(filter_pages(pages, "en")))
    slots = [("GENE", "a"), ("VARIANT", "b")]
    vocab = ["inhibits", "activates", "binds", "modulates"]

    combined = doc_kg_combined(docs, gaz, vocab, "DRUG", slots, rules)

    ments = detect_mentions(docs, gaz)
    assert {tuple(r) for r in mentions_from_combined(combined).collect()} == {
        tuple(r) for r in ments.collect()
    }
    sents = analyze_sentences(docs, vocab)
    assert _hrows(sentences_from_combined(combined)) == _hrows(sents)
    ev_cols = ["url", "pivot_mid", "pivot_norm", "pivot_sent", "other_mid",
               "other_norm", "slot", "pred", "path_len"]
    staged = doc_graph_subrels(ments, sents, "DRUG", slots)
    a = {tuple(r) for r in staged.select(*ev_cols).collect()}
    b = {tuple(r) for r in evidence_from_combined(combined).select(*ev_cols).collect()}
    assert a == b and len(a) > 100


def test_pair_rows_leave_other_rows_unchanged(spark, fixture_dir):
    """The per-doc rejoin only ADDS pair rows to the doc pass: its
    sentence, mention and evidence rows are identical under the fixture's
    binary rules and under an empty slot table (which yields no pairs).
    And the fused_rejoin doc pass (pair + mention rows only) gives the
    default lane's canonical map and triples."""
    from nary_relation_extraction_decomposed_spark.operators.graph import (
        PAIR,
        doc_kg_combined,
    )
    from nary_relation_extraction_decomposed_spark.operators.textprep import (
        dedup_latest_text,
        filter_pages,
        resolve_text,
    )

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    no_rules = spark.createDataFrame(
        [], "slot string, pred string, pred_out string"
    )
    docs = dedup_latest_text(resolve_text(filter_pages(pages, "en")))
    slots = [("GENE", "a"), ("VARIANT", "b")]
    vocab = ["inhibits", "activates", "binds", "modulates"]

    with_rules = doc_kg_combined(docs, gaz, vocab, "DRUG", slots, rules)
    without = doc_kg_combined(docs, gaz, vocab, "DRUG", slots, no_rules)
    assert with_rules.filter(F.col("kind") == PAIR).count() > 100
    assert without.filter(F.col("kind") == PAIR).count() == 0
    others = F.col("kind") != PAIR
    a = _hrows(with_rules.filter(others))
    assert a == _hrows(without.filter(others))
    assert {r[1] for r in a} == {0, 1, 2}

    def run(**kw):
        res = run_pipeline(pages, gaz, rules, PipelineConfig(**kw))
        return ({tuple(r) for r in res.canon_map.collect()},
                {tuple(r) for r in res.triples.collect()})

    canon, triples = run()
    assert triples
    assert run(fused_rejoin=True) == (canon, triples)


def test_doc_passes_accept_batches_without_output(spark):
    """A batch whose documents yield no rows (empty or NULL text, no
    mentions) must produce an empty result, not an Arrow conversion error
    on the array columns of an empty output frame."""
    from nary_relation_extraction_decomposed_spark.operators.graph import (
        PAIR,
        doc_graph_subrels,
        doc_kg_combined,
        pairs_from_combined,
    )
    from nary_relation_extraction_decomposed_spark.operators.mentions import (
        analyze_sentences,
        detect_mentions,
    )

    gaz = spark.createDataFrame(
        [("alpha", "E1", "PIV"), ("beta", "E2", "A")],
        "surface_norm string, ent_id string, ent_type string",
    )
    rules = spark.createDataFrame(
        [("a", "links", "L")], "slot string, pred string, pred_out string"
    )
    slots = [("A", "a")]
    docs = spark.createDataFrame(
        [("u1", ""), ("u2", None), ("u3", "no entities here")],
        "url string, text string",
    ).coalesce(1)
    combined = doc_kg_combined(docs, gaz, ["links"], "PIV", slots, rules)
    assert combined.filter("kind = 2").count() == 0
    assert pairs_from_combined(combined).count() == 0
    assert doc_kg_combined(docs, gaz, ["links"], "PIV", slots, rules,
                           kinds=(PAIR,)).count() == 0
    empty = docs.filter("url = 'u1'")
    assert doc_kg_combined(empty, gaz, ["links"], "PIV", slots,
                           rules).count() == 0
    assert analyze_sentences(empty, ["links"]).count() == 0
    mentionless = doc_graph_subrels(
        detect_mentions(docs, gaz), analyze_sentences(docs, ["links"]),
        "PIV", slots,
    )
    assert mentionless.count() == 0


def test_pairs_fusion_equals_staged(spark, fixture_dir):
    """The pair rows of doc_kg_combined (detection+BFS+decompose+PER-DOC
    REJOIN in one mapInPandas, VERDICT r5 #1) must reproduce the Spark
    rejoin_triples over the subrels of the same frame exactly: same
    url-level distinct pairs, same final (subj, pred, obj, support)."""
    from nary_relation_extraction_decomposed_spark.operators.graph import (
        doc_kg_combined,
        evidence_from_combined,
        pairs_from_combined,
    )
    from nary_relation_extraction_decomposed_spark.operators.textprep import (
        dedup_latest_text,
        filter_pages,
        resolve_text,
    )
    from nary_relation_extraction_decomposed_spark.operators.triples import (
        pairs_to_triples,
        rejoin_triples,
        subrels_from_evidence,
    )

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))
    docs = dedup_latest_text(resolve_text(filter_pages(pages, "en")))
    slots = [("GENE", "a"), ("VARIANT", "b")]
    vocab = ["inhibits", "activates", "binds", "modulates"]

    def combined_with(rules):
        combined = doc_kg_combined(docs, gaz, vocab, "DRUG", slots, rules)
        return (subrels_from_evidence(evidence_from_combined(combined)),
                pairs_from_combined(combined))

    staged_sr, pairs = combined_with(rules)

    staged_urls = rejoin_triples(staged_sr, rules, url_level=True)
    fused_urls = pairs_to_triples(pairs, url_level=True)
    a = {tuple(r) for r in staged_urls.collect()}
    b = {tuple(r) for r in fused_urls.collect()}
    assert a == b and len(a) > 100

    want = {tuple(r) for r in rejoin_triples(staged_sr, rules).collect()}
    got = {tuple(r) for r in pairs_to_triples(pairs).collect()}
    assert got == want and want

    # duplicate-key rule rows: two rules sharing (subrel_a, subrel_b) must
    # BOTH emit, exactly as the staged path's rule-table join does (review
    # r6: the fused path's dict collapsed to the last rule)
    extra = rules.limit(1).select(
        "subrel_a", "subrel_b",
        F.concat(F.col("pred_a"), F.lit("_alt")).alias("pred_a"),
        F.concat(F.col("pred_b"), F.lit("_alt")).alias("pred_b"),
    )
    rules_dup = rules.unionByName(extra)
    staged_sr_dup, pairs_dup = combined_with(rules_dup)
    want_dup = {tuple(r)
                for r in rejoin_triples(staged_sr_dup, rules_dup).collect()}
    got_dup = {tuple(r) for r in pairs_to_triples(pairs_dup).collect()}
    assert got_dup == want_dup and len(want_dup) > len(want)


def test_fused_pipeline_equals_unfused(spark, fixture_dir):
    """run_pipeline's combined default == the staged operator chain
    (detect_mentions -> analyze_sentences -> doc_graph_subrels ->
    subrels_from_evidence -> rejoin_triples) end to end (triples with
    support)."""
    from nary_relation_extraction_decomposed_spark.operators.graph import (
        doc_graph_subrels,
    )
    from nary_relation_extraction_decomposed_spark.operators.mentions import (
        analyze_sentences,
        detect_mentions,
    )
    from nary_relation_extraction_decomposed_spark.operators.textprep import (
        dedup_latest_text,
        filter_pages,
        resolve_text,
    )
    from nary_relation_extraction_decomposed_spark.operators.triples import (
        rejoin_triples,
        subrels_from_evidence,
    )

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))

    def rows(df):
        return {tuple(r) for r in df.select("subj", "pred", "obj", "support").collect()}

    def triples(**cfg_kw):
        cfg_kw.setdefault("canonicalize", False)
        return rows(run_pipeline(pages, gaz, rules, PipelineConfig(**cfg_kw)).triples)

    cfg = PipelineConfig(canonicalize=False)
    docs = dedup_latest_text(resolve_text(filter_pages(pages, cfg.lang)))
    ev = doc_graph_subrels(
        detect_mentions(docs, gaz),
        analyze_sentences(docs, list(cfg.pred_vocab)),
        cfg.pivot_type, list(cfg.arg_slots),
    )
    staged = rows(rejoin_triples(subrels_from_evidence(ev), rules))

    want = triples()
    assert want == staged and want
    # the fused_rejoin doc pass (pair rows only — the configuration the
    # bench headline measures) must produce the identical triples, with
    # and without merge-time ER
    assert want == triples(fused_rejoin=True)
    assert triples(canonicalize=True) == triples(
        fused_rejoin=True, canonicalize=True
    )


def test_dedup_mode_auto_and_skip(spark, fixture_dir):
    """dedup_mode='skip' on a PRE-DEDUPED corpus skips the pipeline's only
    full-text shuffle and still produces the triples of the default
    'latest' mode; any other mode is rejected."""
    from nary_relation_extraction_decomposed_spark.operators.textprep import (
        dedup_latest_text,
    )

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 8 == 0)
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))

    def triples(pg, mode):
        cfg = PipelineConfig(canonicalize=False, dedup_mode=mode)
        df = run_pipeline(pg, gaz, rules, cfg).triples
        return {tuple(r) for r in df.select("subj", "pred", "obj", "support").collect()}

    # the fixture corpus HAS duplicate urls; its deduped copy has none
    clean = dedup_latest_text(pages).persist()
    n_urls = pages.select("url").distinct().count()
    assert clean.count() == n_urls < pages.count()
    want_clean = triples(clean, "latest")
    assert triples(clean, "skip") == want_clean and want_clean
    clean.unpersist()
    with pytest.raises(ValueError, match="dedup_mode"):
        PipelineConfig(dedup_mode="auto")


def test_golden_triples_invariant_under_co_mention(spark, fixture_dir):
    """Co-mention edges alone (token window fixed) never change the
    accepted triple set — only evidence path lengths."""
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    pages = pages.filter(F.xxhash64("url") % 8 == 0)  # speed cap
    gaz = spark.read.parquet(os.path.join(fixture_dir, "gazetteer.parquet"))
    rules = spark.read.parquet(os.path.join(fixture_dir, "pred_rules.parquet"))

    def triple_set(co):
        cfg = PipelineConfig(canonicalize=False, co_mention_edges=co)
        df = run_pipeline(pages, gaz, rules, cfg).triples
        return {tuple(r) for r in df.select("subj", "pred", "obj", "support").collect()}

    assert triple_set(False) == triple_set(True)


def test_pairs_fusion_equals_staged_random_corpora(spark):
    """Property twin of test_pairs_fusion_equals_staged (hypothesis,
    derandomized): on RANDOM tiny corpora — random sentence layouts,
    random rule-table subsets (including empty and duplicate-key tables),
    both the binary and the generalized n-ary lane — the fused per-doc
    rejoin must equal the staged combined->evidence->subrels->rejoin
    chain at url level AND after support aggregation. Random layouts
    exercise cross-sentence BFS, missing slots, pred-less pivots, and
    multi-filler cross products the fixed fixtures can't enumerate."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nary_relation_extraction_decomposed_spark.operators.graph import (
        doc_kg_combined,
        evidence_from_combined,
        pairs_from_combined,
    )
    from nary_relation_extraction_decomposed_spark.operators.triples import (
        pairs_to_triples,
        rejoin_nary,
        rejoin_triples,
        subrels_from_evidence,
    )

    gaz = spark.createDataFrame(
        [("alpha", "E1", "PIV"), ("beta", "E2", "A"), ("eps", "E3", "A"),
         ("gamma", "E4", "B"), ("delta", "E5", "C")],
        "surface_norm string, ent_id string, ent_type string",
    )
    vocab = ["links", "binds"]
    token_pool = ["alpha", "beta", "eps", "gamma", "delta",
                  "links", "binds", "foo", "bar"]
    sentence = st.lists(
        st.sampled_from(token_pool), min_size=2, max_size=8
    ).map(" ".join)
    doc = st.lists(sentence, min_size=1, max_size=3).map("\n".join)
    corpora = st.lists(doc, min_size=2, max_size=4)

    bin_rows = [(f"{p}#a", f"{p}#b", p, f"{p}.ctx") for p in vocab]
    nary_rows = [(s, p, f"{p}.{s}") for p in vocab for s in ("a", "b", "c")]
    bin_rules = st.lists(
        st.sampled_from(bin_rows), max_size=2, unique=True
    )
    nary_rules = st.lists(
        st.sampled_from(nary_rows), max_size=6, unique=True
    )

    @settings(max_examples=5, deadline=None)
    @given(corpora, st.booleans(), bin_rules, nary_rules, st.booleans())
    def check(texts, nary, brows, nrows, dup_rule):
        docs = spark.createDataFrame(
            [(f"u{i}", t) for i, t in enumerate(texts)],
            "url string, text string",
        )
        if nary:
            slots = [("A", "a"), ("B", "b"), ("C", "c")]
            if dup_rule and nrows:
                nrows = nrows + [(nrows[0][0], nrows[0][1],
                                  nrows[0][2] + "_alt")]
            rules = spark.createDataFrame(
                nrows, "slot string, pred string, pred_out string"
            )
        else:
            slots = [("A", "a"), ("B", "b")]
            if dup_rule and brows:
                brows = brows + [(brows[0][0], brows[0][1],
                                  brows[0][2] + "_alt", brows[0][3] + "_alt")]
            rules = spark.createDataFrame(
                brows,
                "subrel_a string, subrel_b string, "
                "pred_a string, pred_b string",
            )

        combined = doc_kg_combined(docs, gaz, vocab, "PIV", slots, rules)
        sr = subrels_from_evidence(evidence_from_combined(combined))
        pairs = pairs_from_combined(combined)
        if nary:
            labels = [s for _, s in slots]
            staged_u = rejoin_nary(sr, rules, labels, None, True)
            staged_t = rejoin_nary(sr, rules, labels)
        else:
            staged_u = rejoin_triples(sr, rules, url_level=True)
            staged_t = rejoin_triples(sr, rules)
        assert ({tuple(r) for r in pairs_to_triples(pairs, url_level=True)
                 .collect()}
                == {tuple(r) for r in staged_u.collect()})
        assert ({tuple(r) for r in pairs_to_triples(pairs).collect()}
                == {tuple(r) for r in staged_t.collect()})

    check()
