"""Document-level entity graph + BFS shortest-path evidence.

The per-document graph (adjacency lists) is built INSIDE a mapInPandas
batch from that document's mention rows and never exists as a distributed
structure — one document's graph always fits in one call (docs are capped
at MAX_MENTIONS_PER_DOC mentions upstream, deterministically).

The per-document work is written once, in operators/kernels.py:
doc_evidence (BFS + surfaces + nearest predicate) and doc_pairs (the
per-doc rejoin). Two entry shapes call them:
- doc_kg_combined: ONE pass over docs(url, text) with one row per url
  (the pipeline's docs contract) — detection, sentence analysis, BFS and
  the per-doc rejoin in the same call, zero shuffles. It emits a tagged
  row stream whose kinds (sentence, mention, evidence, triple pair) the
  caller chooses;
- doc_graph_subrels: the staged shape over separate mention and sentence
  frames — a tagged union of both, hash-partitioned and sorted by url,
  then a pandas groupby per Arrow batch with url-boundary carry. At scale
  the url key is high-cardinality and uniform (no skew).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from .kernels import (
    MAX_PATH_LEN,
    TOKEN_WINDOW,
    detect_mentions_in_text,
    doc_evidence,
    doc_pairs,
    sentence_predicates,
)


def _tok_counts(toks_of_sent: dict, n_sents: int) -> list:
    """Per-sentence token counts for the token-window edges, with None (not
    0) for sentences absent from the sentence rows — a fabricated 0 count
    would turn the cross-boundary gap negative on the fallback path where
    n_sents is derived from mentions, inventing proximity edges (NaN from
    pandas null int columns is treated as unknown too)."""
    out = []
    for i in range(n_sents):
        v = toks_of_sent.get(i)
        out.append(int(v) if v is not None and v == v else None)
    return out


def _nonempty(df: pd.DataFrame):
    """Yield df unless it has no rows: an empty frame built from lists
    infers float64 columns, which Arrow cannot convert to array columns."""
    if len(df):
        yield df


# evidence enriched with everything the decompose step needs — emitting these
# from the BFS stage (the data is already in the chunk) saves three
# corpus-sized joins downstream
EVIDENCE_SUBREL_SCHEMA = (
    "url string, pivot_mid int, pivot_norm string, pivot_sent int, "
    "other_mid int, other_norm string, slot string, pred string, "
    "path_len int, path array<int>"
)

_EVIDENCE_COLS = [c.split()[0] for c in EVIDENCE_SUBREL_SCHEMA.split(", ")]


def doc_graph_subrels(
    mentions: DataFrame,
    sentences: DataFrame,
    pivot_type: str,
    arg_slots: list[tuple[str, str]],
    max_path_len: int = MAX_PATH_LEN,
    num_partitions: int | None = None,
    co_mention_edges: bool = True,
    token_window: int | None = TOKEN_WINDOW,
) -> DataFrame:
    """mentions (MENTIONS_SCHEMA) x sentences (SENTENCES_SCHEMA) -> BFS
    evidence + decomposition attributes (EVIDENCE_SUBREL_SCHEMA).

    ONE shuffle: a tagged union (kind 0 = sentence rows, kind 1 = mention
    rows) is hash-partitioned and sorted by url, then a mapInPandas runs a
    pandas groupby per Arrow batch with url-boundary carry — batch-level
    calls cost ~50 us per document where a grouped-map applyInPandas pays
    ~1.5 ms. Each url's rows go through kernels.doc_evidence, which
    resolves surfaces and the pivot's predicate in the chunk, so the
    sub-relations need no joins (triples.subrels_from_evidence).

    num_partitions (default 2x cores) pins the url partitioning width for
    the Python stage: AQE's bytes-based coalescing would otherwise
    collapse a small-bytes/high-CPU stage onto a handful of cores; the
    explicit repartition(n, url) is AQE-exempt."""
    import pyspark.sql.functions as F

    if num_partitions is None:
        num_partitions = mentions.sparkSession.sparkContext.defaultParallelism * 2

    # only the columns the BFS chunk reads ride the Exchange and the Arrow
    # crossing (mapInPandas gets no automatic column pruning)
    tagged = sentences.select(
        "url",
        F.lit(0).alias("kind"),
        F.col("sent_id").cast("int").alias("sent_id"),
        F.lit(None).cast("int").alias("mention_id"),
        F.lit(None).cast("string").alias("ent_type"),
        F.lit(None).cast("string").alias("surface_norm"),
        F.lit(None).cast("int").alias("tok_begin"),
        F.lit(None).cast("int").alias("tok_end"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("preds"),
        F.col("pred_toks").cast("array<int>").alias("pred_toks"),
    ).unionByName(
        mentions.select(
            "url",
            F.lit(1).alias("kind"),
            F.col("sent_id").cast("int").alias("sent_id"),
            F.col("mention_id").cast("int").alias("mention_id"),
            "ent_type",
            "surface_norm",
            F.col("tok_begin").cast("int").alias("tok_begin"),
            F.col("tok_end").cast("int").alias("tok_end"),
            F.lit(None).cast("int").alias("n_tokens"),
            F.lit(None).cast("array<string>").alias("preds"),
            F.lit(None).cast("array<int>").alias("pred_toks"),
        )
    )
    tagged = tagged.repartition(num_partitions, "url").sortWithinPartitions(
        "url", "kind", "mention_id"
    )

    cols = _EVIDENCE_COLS

    def frame(pdf: pd.DataFrame) -> pd.DataFrame:
        out: dict[str, list] = {c: [] for c in cols}
        for url, grp in pdf.groupby("url", sort=False):
            mrows = grp[grp["kind"] == 1]
            if mrows.empty:
                continue
            srows = grp[grp["kind"] == 0]
            n_sents = len(srows)
            if n_sents == 0:
                n_sents = int(mrows["sent_id"].max()) + 1
            preds_of_sent = dict(zip(
                srows["sent_id"], zip(srows["preds"], srows["pred_toks"])
            ))
            toks_of_sent = dict(zip(srows["sent_id"], srows["n_tokens"]))
            ms = [
                {"mention_id": int(mid), "ent_type": et, "sent_id": int(sid),
                 "surface_norm": sn, "tok_begin": int(tb), "tok_end": int(te)}
                for mid, et, sid, sn, tb, te in zip(
                    mrows["mention_id"], mrows["ent_type"],
                    mrows["sent_id"], mrows["surface_norm"],
                    mrows["tok_begin"], mrows["tok_end"],
                )
            ]
            ms.sort(key=lambda m: m["mention_id"])
            for r in doc_evidence(
                n_sents, ms, preds_of_sent, _tok_counts(toks_of_sent, n_sents),
                pivot_type, arg_slots, max_path_len, co_mention_edges,
                token_window,
            ):
                out["url"].append(url)
                for c in cols[1:]:
                    out[c].append(r[c])
        return pd.DataFrame(out, columns=cols)

    def batches(it):
        carry: pd.DataFrame | None = None
        for pdf in it:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_url = pdf["url"].iat[-1]
            mask = pdf["url"].to_numpy() == last_url
            carry = pdf[mask]
            head = pdf[~mask]
            if len(head):
                yield from _nonempty(frame(head))
        if carry is not None and len(carry):
            yield from _nonempty(frame(carry))

    return tagged.mapInPandas(batches, schema=EVIDENCE_SUBREL_SCHEMA)


# the combined pass's row stream, one kind per row:
# SENTENCE/MENTION = the staged frames' columns, EVIDENCE = the
# EVIDENCE_SUBREL_SCHEMA columns, PAIR = one kernels.doc_pairs triple
# (pivot_norm = subject, pred = output predicate, other_norm = object)
SENTENCE, MENTION, EVIDENCE, PAIR = 0, 1, 2, 3
ALL_KINDS = (SENTENCE, MENTION, EVIDENCE, PAIR)

COMBINED_SCHEMA = (
    "url string, kind int, sent_id int, mention_id int, ent_id string, "
    "ent_type string, surface string, surface_norm string, begin int, "
    "end int, tok_begin int, tok_end int, n_tokens int, pred string, "
    "preds array<string>, pred_toks array<int>, "
    "pivot_mid int, pivot_norm string, pivot_sent int, other_mid int, "
    "other_norm string, slot string, path_len int, path array<int>"
)

_COMBINED_COLS = [c.split()[0] for c in COMBINED_SCHEMA.split(", ")]


def doc_kg_combined(
    docs: DataFrame,
    gazetteer: DataFrame,
    pred_vocab: list[str],
    pivot_type: str,
    arg_slots: list[tuple[str, str]],
    pred_rules: DataFrame,
    max_path_len: int = MAX_PATH_LEN,
    co_mention_edges: bool = True,
    token_window: int | None = TOKEN_WINDOW,
    kinds: tuple[int, ...] = ALL_KINDS,
) -> DataFrame:
    """Detection + sentence analysis + graph BFS + decompose + per-doc
    REJOIN fused into ONE mapInPandas over docs(url, text), with the
    gazetteer index broadcast — ZERO shuffles from docs to triple pairs.

    Requires one row per url (dedup_latest_text's contract): each input row
    is a complete document, so the per-doc graph never spans partitions and
    doc_graph_subrels' repartition(n, url) + sortWithinPartitions + batch
    carry are all unnecessary. Returns the COMBINED_SCHEMA union stream of
    the row kinds in `kinds`; the *_from_combined views below recover each
    kind by filter+project. A document without mentions has only SENTENCE
    rows, so it is skipped before sentence analysis when those are not
    asked for.

    pred_rules: the rule table (either schema), collected on the driver by
    triples.slot_rule_rows — broadcast-sized by the same contract the
    Spark rejoins rely on — and applied per document by kernels.doc_pairs.
    The rejoin key (url, pivot_mid, pred) never leaves a document, so the
    PAIR rows are the per-doc-distinct output of triples.rejoin_triples /
    rejoin_nary over the EVIDENCE rows' sub-relations with url_level=True;
    pinned equal in tests/test_graph_enrichment.py and
    tests/test_nary_arity.py. Semantics of the other kinds are pinned equal
    to the staged operators there too."""
    from .mentions import build_gazetteer_index
    from .triples import slot_rule_rows

    rows, slot_labels = slot_rule_rows(pred_rules, arg_slots)
    # a list per key: the Spark rejoins JOIN the rule table, so two rule
    # rows sharing a key both emit
    rules: dict[tuple[str, str], list[str]] = {}
    for slot, pred, out_pred in rows:
        rules.setdefault((slot, pred), []).append(out_pred)
    bc = docs.sparkSession.sparkContext.broadcast(
        build_gazetteer_index(gazetteer)
    )
    vocab = frozenset(pred_vocab)
    every_doc = SENTENCE in kinds
    cols = _COMBINED_COLS
    payload = cols[2:]

    def frame(pdf: pd.DataFrame, gaz) -> pd.DataFrame:
        out: dict[str, list] = {c: [] for c in cols}
        for url, text in zip(pdf["url"], pdf["text"]):
            if not isinstance(text, str) or not text:
                continue
            ms = detect_mentions_in_text(text, gaz)
            if not ms and not every_doc:
                continue
            sents = sentence_predicates(text, vocab)
            ev = doc_evidence(
                len(sents), ms,
                {s["sent_id"]: (s["preds"], s["pred_toks"]) for s in sents},
                [s["n_tokens"] for s in sents],
                pivot_type, arg_slots, max_path_len, co_mention_edges,
                token_window,
            ) if ms else []
            pairs = [
                {"pivot_norm": s, "pred": p, "other_norm": o}
                for s, p, o in doc_pairs(ev, rules, slot_labels)
            ]
            for kind, kind_rows in zip(ALL_KINDS, (sents, ms, ev, pairs)):
                if kind not in kinds:
                    continue
                for r in kind_rows:
                    out["url"].append(url)
                    out["kind"].append(kind)
                    for c in payload:
                        out[c].append(r.get(c))
        return pd.DataFrame(out, columns=cols)

    def batches(it):
        gaz = bc.value
        for pdf in it:
            yield from _nonempty(frame(pdf, gaz))

    return docs.select("url", "text").mapInPandas(
        batches, schema=COMBINED_SCHEMA
    )


def mentions_from_combined(combined: DataFrame) -> DataFrame:
    import pyspark.sql.functions as F

    return combined.filter(F.col("kind") == MENTION).select(
        "url", "mention_id", "ent_id", "ent_type", "surface",
        "surface_norm", "begin", "end", "sent_id", "tok_begin", "tok_end",
    )


def sentences_from_combined(combined: DataFrame) -> DataFrame:
    import pyspark.sql.functions as F

    return combined.filter(F.col("kind") == SENTENCE).select(
        "url", "sent_id", "n_tokens", "pred", "preds", "pred_toks"
    )


def evidence_from_combined(combined: DataFrame) -> DataFrame:
    """EVIDENCE_SUBREL_SCHEMA view (same columns as doc_graph_subrels)."""
    import pyspark.sql.functions as F

    return combined.filter(F.col("kind") == EVIDENCE).select(*_EVIDENCE_COLS)


def pairs_from_combined(combined: DataFrame) -> DataFrame:
    """The PAIR rows as (url, subj_norm, pred, obj_norm), the input of
    triples.pairs_to_triples (canon map + support)."""
    import pyspark.sql.functions as F

    return combined.filter(F.col("kind") == PAIR).select(
        "url",
        F.col("pivot_norm").alias("subj_norm"),
        "pred",
        F.col("other_norm").alias("obj_norm"),
    )
