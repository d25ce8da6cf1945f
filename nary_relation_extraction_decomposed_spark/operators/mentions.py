"""Entity-mention detection + sentence analysis (Arrow-vectorized).

Two detection strategies, auto-dispatched by dictionary size
(detect_mentions_auto, mirroring relational.asof_join's dispatch):

- BROADCAST (detect_mentions, the default): the gazetteer is collected once
  on the driver, built into a token-trie-style index, and broadcast to
  executors (sc.broadcast) — the classic small-dim pattern: millions of
  docs stream through mapInPandas while the dictionary lives once per
  executor, no shuffle, no join. Right whenever the dictionary fits driver
  memory (≤ a few 10^6 surfaces / tens of MB).

- JOIN (detect_mentions_join): a web-scale entity dictionary can be 10^8
  surfaces — too big to collect on the driver at all. The join path never
  materializes the dictionary anywhere: docs emit their token n-grams
  (n = 1..MAX_GAZ_TOKENS) as candidate rows, an equi-join against the
  gazetteer TABLE keeps the dictionary distributed (AQE picks
  broadcast/SMJ by size), and a per-document greedy pass reproduces the
  trie scan's longest-match-left-to-right/no-overlap semantics exactly
  (pytest-pinned equal to the broadcast path, tests/test_gazetteer_join.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .kernels import (
    MAX_GAZ_TOKENS,
    MAX_MENTIONS_PER_DOC,
    GazetteerIndex,
    detect_mentions_in_text,
    sentence_predicates,
    split_sentences,
    tokenize_with_offsets,
)

MENTIONS_SCHEMA = (
    "url string, mention_id int, ent_id string, ent_type string, "
    "surface string, surface_norm string, begin int, end int, sent_id int, "
    "tok_begin int, tok_end int"
)
# pred = first vocab token (sentence-level summary); preds/pred_toks = ALL
# vocab tokens + their token indexes, feeding the nearest-predicate
# attachment rule (kernels.nearest_pred) that resolves the evidence
# predicate per pivot mention
SENTENCES_SCHEMA = (
    "url string, sent_id int, n_tokens int, pred string, "
    "preds array<string>, pred_toks array<int>"
)


def gazetteer_as_of(gazetteer: DataFrame, ts) -> DataFrame:
    """Snapshot-aware dictionary: the latest row per (surface_norm, ent_id)
    with snap_ts <= ts — the as-of pattern applied to the KG dictionary so a
    rerun against a historical crawl uses the dictionary of that time."""
    w = Window.partitionBy("surface_norm", "ent_id").orderBy(F.col("snap_ts").desc())
    return (
        gazetteer.filter(F.col("snap_ts") <= F.lit(ts))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_gazetteer_index(gazetteer: DataFrame) -> GazetteerIndex:
    """Collect (surface_norm, ent_id, ent_type) and build the scan index.
    Driver-side by design: the gazetteer is the SMALL side."""
    rows = [
        (r["surface_norm"], r["ent_id"], r["ent_type"])
        for r in gazetteer.select("surface_norm", "ent_id", "ent_type").collect()
    ]
    return GazetteerIndex.build(rows)


def detect_mentions(docs: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """docs(url, text) -> mentions rows (MENTIONS_SCHEMA).

    Longest-match gazetteer scan per document, executed over Arrow batches;
    mention_id is the (begin, end) ordinal within the doc — deterministic
    under any partitioning.
    """
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(build_gazetteer_index(gazetteer))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = bc.value
        cols = [
            "url", "mention_id", "ent_id", "ent_type",
            "surface", "surface_norm", "begin", "end", "sent_id",
            "tok_begin", "tok_end",
        ]
        for pdf in it:
            out: dict[str, list] = {c: [] for c in cols}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not isinstance(text, str) or not text:
                    continue
                for m in detect_mentions_in_text(text, gaz):
                    out["url"].append(url)
                    for k in cols[1:]:
                        out[k].append(m[k])
            yield pd.DataFrame(out, columns=cols)

    return docs.select("url", "text").mapInPandas(batches, schema=MENTIONS_SCHEMA)


def dedup_gazetteer_table(gazetteer: DataFrame) -> DataFrame:
    """Distributed twin of GazetteerIndex.build's tie rule: one row per
    WHITESPACE-NORMALIZED surface — with empty and over-MAX_GAZ_TOKENS
    surfaces dropped.

    Normalization first (split on whitespace runs, DROP empty edge tokens,
    rejoin with single spaces) mirrors the trie path's
    ``surface_norm.split()`` token key: a raw dictionary surface with a
    double space, tab, or leading/trailing whitespace of ANY ``\\s`` kind
    matches via the broadcast trie (token-tuple key) but could never equal
    a single-space-joined candidate n-gram in the join path — normalizing
    before the size filter, dedup and join keeps the two paths convergent
    on non-normalized dictionaries. (F.trim strips only spaces, so the
    empty-token filter — not trim — is what handles edge tabs; Java
    ``\\s`` is ASCII whitespace vs Python's Unicode ``str.split()`` — the
    one remaining documented seam, exotic-whitespace surfaces.)

    Tie rule parity: GazetteerIndex.build iterates ``sorted(rows)`` and the
    first claim on a collapsed token key wins — i.e. the minimum of
    (raw surface, ent_id, ent_type); ``min(struct(...))`` orders field-wise,
    exactly like sorted() on the tuple. For already-normalized dictionaries
    raw == normalized and this reduces to the old min(ent_id, ent_type)."""
    toks = F.filter(
        F.split(F.col("surface_norm"), r"\s+"), lambda t: t != ""
    )
    g = gazetteer.select(
        F.array_join(toks, " ").alias("_norm"),
        F.size(toks).alias("_ntoks"),
        F.col("surface_norm").alias("_raw"),
        "ent_id",
        "ent_type",
    )
    n_toks = F.col("_ntoks")
    return (
        g.filter((F.col("_norm") != "") & (n_toks <= MAX_GAZ_TOKENS))
        .groupBy("_norm")
        .agg(F.min(F.struct("_raw", "ent_id", "ent_type")).alias("_m"))
        .select(F.col("_norm").alias("surface_norm"), "_m.ent_id", "_m.ent_type")
    )


def _ngram_candidates(docs: DataFrame) -> DataFrame:
    """docs(url, text) -> one row per (token position, n) candidate n-gram,
    n = 1..MAX_GAZ_TOKENS, with the full mention payload (char offsets into
    the doc, raw surface slice, token span). Map-only — linear in tokens x
    MAX_GAZ_TOKENS, no dictionary anywhere."""
    cols = ["url", "ngram", "sent_id", "tok_begin", "tok_end",
            "begin", "end", "surface"]
    schema = (
        "url string, ngram string, sent_id int, tok_begin int, tok_end int, "
        "begin int, end int, surface string"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {c: [] for c in cols}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not isinstance(text, str) or not text:
                    continue
                offset = 0
                for sent_id, line in enumerate(split_sentences(text)):
                    toks = tokenize_with_offsets(line)
                    n = len(toks)
                    for i in range(n):
                        for length in range(1, min(MAX_GAZ_TOKENS, n - i) + 1):
                            begin = offset + toks[i][1]
                            end = offset + toks[i + length - 1][2]
                            out["url"].append(url)
                            out["ngram"].append(
                                " ".join(t[0] for t in toks[i:i + length])
                            )
                            out["sent_id"].append(sent_id)
                            out["tok_begin"].append(i)
                            out["tok_end"].append(i + length)
                            out["begin"].append(begin)
                            out["end"].append(end)
                            out["surface"].append(text[begin:end])
                    offset += len(line) + 1
            yield pd.DataFrame(out, columns=cols)

    return docs.select("url", "text").mapInPandas(batches, schema=schema)


def detect_mentions_join(docs: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """docs(url, text) -> mentions rows (MENTIONS_SCHEMA) WITHOUT ever
    collecting the gazetteer: the scale path for dictionaries too large for
    the driver/broadcast (10^8 surfaces at web scale).

    Three stages, all distributed:
    1. candidate n-grams: map-only emission of every 1..MAX_GAZ_TOKENS
       token window per doc (linear; no dictionary involved);
    2. dictionary match: equi-join candidates.ngram = gazetteer.surface_norm
       (tie rule pre-applied by dedup_gazetteer_table) — Catalyst/AQE picks
       broadcast vs shuffle join by actual size, no hint pinned;
    3. greedy longest-match resolution per document: matched candidates
       shuffle ONCE by url, sorted (url, sent_id, tok_begin, tok_end DESC);
       a cursor sweep reproduces the trie scan exactly — at each position
       the longest dictionary match wins and overlapped shorter matches are
       skipped — then (begin, end) ordering, MAX_MENTIONS_PER_DOC
       truncation and mention_id ordinals, identical to
       detect_mentions_in_text (pinned in tests/test_gazetteer_join.py).

    Cost note vs the broadcast path: one extra corpus-linear candidate
    stream (~MAX_GAZ_TOKENS rows/token) + one join + one url shuffle of the
    (sparse) matches. That is the right trade only when the dictionary
    cannot be broadcast — detect_mentions_auto dispatches."""
    gaz = dedup_gazetteer_table(gazetteer).withColumnRenamed(
        "surface_norm", "ngram"
    )
    matched = _ngram_candidates(docs).join(gaz, "ngram")
    width = docs.sparkSession.sparkContext.defaultParallelism * 2
    matched = matched.repartition(width, "url").sortWithinPartitions(
        "url", "sent_id", "tok_begin", F.col("tok_end").desc()
    )

    cols = [
        "url", "mention_id", "ent_id", "ent_type", "surface",
        "surface_norm", "begin", "end", "sent_id", "tok_begin", "tok_end",
    ]

    def resolve(pdf: pd.DataFrame, out: dict) -> None:
        for url, grp in pdf.groupby("url", sort=False):
            accepted = []
            cur_sent, cursor = None, 0
            for r in grp.itertuples():
                if r.sent_id != cur_sent:
                    cur_sent, cursor = r.sent_id, 0
                if r.tok_begin >= cursor:  # longest-first within a position
                    accepted.append(r)
                    cursor = r.tok_end
            accepted.sort(key=lambda r: (r.begin, r.end))
            del accepted[MAX_MENTIONS_PER_DOC:]
            for mid, r in enumerate(accepted):
                out["url"].append(url)
                out["mention_id"].append(mid)
                out["ent_id"].append(r.ent_id)
                out["ent_type"].append(r.ent_type)
                out["surface"].append(r.surface)
                out["surface_norm"].append(r.ngram)
                out["begin"].append(int(r.begin))
                out["end"].append(int(r.end))
                out["sent_id"].append(int(r.sent_id))
                out["tok_begin"].append(int(r.tok_begin))
                out["tok_end"].append(int(r.tok_end))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
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
                out = {c: [] for c in cols}
                resolve(head, out)
                yield pd.DataFrame(out, columns=cols)
        if carry is not None and len(carry):
            out = {c: [] for c in cols}
            resolve(carry, out)
            yield pd.DataFrame(out, columns=cols)

    return matched.mapInPandas(batches, schema=MENTIONS_SCHEMA)


# above this many gazetteer rows, detect_mentions_auto stops collecting the
# dictionary onto the driver and takes the join path (a row is ~100 bytes
# indexed: 2M ~ 200 MB driver/executor resident — the broadcast ceiling)
GAZETTEER_BROADCAST_MAX_ROWS = 2_000_000


def detect_mentions_auto(
    docs: DataFrame,
    gazetteer: DataFrame,
    broadcast_max_rows: int = GAZETTEER_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Size-dispatched mention detection (the asof_join auto pattern): a
    LIMIT-bounded probe (never a full count over a 10^8-row dictionary)
    decides broadcast-trie vs distributed join."""
    probe = gazetteer.select("surface_norm").limit(broadcast_max_rows + 1).count()
    if probe <= broadcast_max_rows:
        return detect_mentions(docs, gazetteer)
    return detect_mentions_join(docs, gazetteer)


def analyze_sentences(docs: DataFrame, pred_vocab: list[str]) -> DataFrame:
    """docs(url, text) -> one row per sentence with its predicate summary
    (first vocab token) plus all pred token positions (SENTENCES_SCHEMA)."""
    vocab = frozenset(pred_vocab)
    cols = ["url", "sent_id", "n_tokens", "pred", "preds", "pred_toks"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {c: [] for c in cols}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not isinstance(text, str):
                    text = ""
                for s in sentence_predicates(text, vocab):
                    out["url"].append(url)
                    for c in cols[1:]:
                        out[c].append(s[c])
            if out["url"]:  # see graph._nonempty
                yield pd.DataFrame(out, columns=cols)

    return docs.select("url", "text").mapInPandas(batches, schema=SENTENCES_SCHEMA)
