"""Document-level entity graph + BFS shortest-path evidence.

The per-document graph (adjacency lists) is built INSIDE a mapInPandas
batch from that document's mention rows and never exists as a distributed
structure — one document's graph always fits in one call (docs are capped
at MAX_MENTIONS_PER_DOC mentions upstream, deterministically).

Two entry shapes share the kernels:
- doc_kg_combined / doc_kg_pairs: ONE pass over docs(url, text) with one
  row per url (the pipeline's docs contract) — detection, sentence
  analysis and BFS in the same call, zero shuffles;
- doc_graph_subrels: the staged shape over separate mention and sentence
  frames — a tagged union of both, hash-partitioned and sorted by url,
  then a pandas groupby per Arrow batch with url-boundary carry. At scale
  the url key is high-cardinality and uniform (no skew).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from .kernels import MAX_PATH_LEN, TOKEN_WINDOW, bfs_evidence, nearest_pred


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


# evidence enriched with everything the decompose step needs — emitting these
# from the BFS stage (the data is already in the chunk) saves three
# corpus-sized joins downstream
EVIDENCE_SUBREL_SCHEMA = (
    "url string, pivot_mid int, pivot_norm string, pivot_sent int, "
    "other_mid int, other_norm string, slot string, pred string, "
    "path_len int, path array<int>"
)


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
    ~1.5 ms. The chunk also resolves the pivot's surface_norm, the
    argument's surface_norm, and the pivot-sentence predicate from rows
    already present in it — so the binary sub-relation table needs NO
    joins back to mentions/sentences (pred stays nullable; filter pred IS
    NOT NULL + subrel = pred#slot gives the decomposition, see
    triples.subrels_from_evidence). The binary->triple REJOIN is still
    DataFrame joins.

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

    cols = ["url", "pivot_mid", "pivot_norm", "pivot_sent", "other_mid",
            "other_norm", "slot", "pred", "path_len", "path"]

    def process_chunk(pdf: pd.DataFrame, out: dict) -> None:
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
            sent_tok_counts = _tok_counts(toks_of_sent, n_sents)
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
            by_mid = {m["mention_id"]: m for m in ms}
            for r in bfs_evidence(n_sents, ms, pivot_type, arg_slots, max_path_len,
                                  co_mention_edges, token_window,
                                  sent_tok_counts):
                pm = by_mid[r["pivot_mid"]]
                sp = preds_of_sent.get(pm["sent_id"])
                pred = nearest_pred(
                    sp[0], sp[1], pm["tok_begin"], pm["tok_end"]
                ) if sp is not None else None
                out["url"].append(url)
                out["pivot_mid"].append(r["pivot_mid"])
                out["pivot_norm"].append(pm["surface_norm"])
                out["pivot_sent"].append(pm["sent_id"])
                out["other_mid"].append(r["other_mid"])
                out["other_norm"].append(by_mid[r["other_mid"]]["surface_norm"])
                out["slot"].append(r["slot"])
                out["pred"].append(pred)
                out["path_len"].append(r["path_len"])
                out["path"].append(r["path"])

    def to_frame(out: dict) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "url": pd.Series(out["url"], dtype=object),
                "pivot_mid": pd.Series(out["pivot_mid"], dtype="int32"),
                "pivot_norm": pd.Series(out["pivot_norm"], dtype=object),
                "pivot_sent": pd.Series(out["pivot_sent"], dtype="int32"),
                "other_mid": pd.Series(out["other_mid"], dtype="int32"),
                "other_norm": pd.Series(out["other_norm"], dtype=object),
                "slot": pd.Series(out["slot"], dtype=object),
                "pred": pd.Series(out["pred"], dtype=object),
                "path_len": pd.Series(out["path_len"], dtype="int32"),
                "path": pd.Series(out["path"], dtype=object),
            },
            columns=cols,
        )

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
                out = {c: [] for c in cols}
                process_chunk(head, out)
                yield to_frame(out)
        if carry is not None and len(carry):
            out = {c: [] for c in cols}
            process_chunk(carry, out)
            yield to_frame(out)

    return tagged.mapInPandas(batches, schema=EVIDENCE_SUBREL_SCHEMA)


# one row stream for the FULLY-fused pass: kind 0 = sentence, 1 = mention,
# 2 = evidence(+decomposition attrs). Everything run_pipeline needs from a
# document comes out of ONE mapInPandas crossing with NO shuffle (after
# dedup_latest_text each url is exactly one input row, so no url grouping
# is required at all — doc_graph_subrels' repartition+sort exists only for
# inputs whose per-url rows arrive scattered).
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
    max_path_len: int = MAX_PATH_LEN,
    co_mention_edges: bool = True,
    token_window: int | None = TOKEN_WINDOW,
) -> DataFrame:
    """Detection + sentence analysis + graph BFS fused into ONE mapInPandas
    over docs(url, text) — ZERO shuffles from docs to evidence.

    Requires one row per url (dedup_latest_text's contract): each input row
    is a complete document, so the per-doc graph never spans partitions and
    doc_graph_subrels' repartition(n, url) + sortWithinPartitions + batch
    carry are all unnecessary. Returns the COMBINED_SCHEMA union stream;
    mentions_/sentences_/evidence_from_combined below recover the unfused
    frames by filter+project. Semantics are pinned equal to the staged
    operators in tests/test_graph_enrichment.py."""
    from .mentions import build_gazetteer_index
    from .kernels import detect_mentions_in_text, sentence_predicates

    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(build_gazetteer_index(gazetteer))
    vocab = frozenset(pred_vocab)
    cols = _COMBINED_COLS
    m_cols = ["mention_id", "ent_id", "ent_type", "surface", "surface_norm",
              "begin", "end", "tok_begin", "tok_end"]
    ev_cols = ["pivot_mid", "pivot_norm", "pivot_sent", "other_mid",
               "other_norm", "slot", "path_len", "path"]

    def batches(it):
        gaz = bc.value
        for pdf in it:
            out: dict[str, list] = {c: [] for c in cols}

            def emit(url, kind, **vals):
                out["url"].append(url)
                out["kind"].append(kind)
                for c in cols[2:]:
                    out[c].append(vals.get(c))

            for url, text in zip(pdf["url"], pdf["text"]):
                if not isinstance(text, str):
                    text = ""
                sents = sentence_predicates(text, vocab)
                for s in sents:
                    emit(url, 0, sent_id=s["sent_id"],
                         n_tokens=s["n_tokens"], pred=s["pred"],
                         preds=s["preds"], pred_toks=s["pred_toks"])
                if not text:
                    continue
                ms = detect_mentions_in_text(text, gaz)
                for m in ms:
                    emit(url, 1, sent_id=m["sent_id"],
                         **{c: m[c] for c in m_cols})
                if not ms:
                    continue
                by_mid = {m["mention_id"]: m for m in ms}
                preds_of_sent = {
                    s["sent_id"]: (s["preds"], s["pred_toks"]) for s in sents
                }
                for r in bfs_evidence(
                    len(sents), ms, pivot_type, arg_slots, max_path_len,
                    co_mention_edges, token_window,
                    [s["n_tokens"] for s in sents],
                ):
                    pm = by_mid[r["pivot_mid"]]
                    sp = preds_of_sent.get(pm["sent_id"])
                    emit(url, 2,
                         pivot_mid=r["pivot_mid"],
                         pivot_norm=pm["surface_norm"],
                         pivot_sent=pm["sent_id"],
                         other_mid=r["other_mid"],
                         other_norm=by_mid[r["other_mid"]]["surface_norm"],
                         slot=r["slot"],
                         pred=nearest_pred(
                             sp[0], sp[1], pm["tok_begin"], pm["tok_end"]
                         ) if sp is not None else None,
                         path_len=r["path_len"],
                         path=r["path"])
            yield pd.DataFrame(out, columns=cols)

    return docs.select("url", "text").mapInPandas(batches, schema=COMBINED_SCHEMA)


# url-level triple pairs: the input to _canonicalize_and_support (the
# corpus-level canonical-label + support aggregation, the ONLY stage of the
# whole pipeline whose key spans documents)
PAIRS_SCHEMA = "url string, subj_norm string, pred string, obj_norm string"


def doc_kg_pairs(
    docs: DataFrame,
    gazetteer: DataFrame,
    pred_vocab: list[str],
    pivot_type: str,
    arg_slots: list[tuple[str, str]],
    pred_rules,
    max_path_len: int = MAX_PATH_LEN,
    co_mention_edges: bool = True,
    token_window: int | None = TOKEN_WINDOW,
) -> DataFrame:
    """Detection + sentence analysis + BFS evidence + decompose + REJOIN
    fused into ONE mapInPandas over docs(url, text), emitting per-doc
    DISTINCT (url, subj_norm, pred, obj_norm) pairs (PAIRS_SCHEMA).

    Rationale (VERDICT r5 #1, measured with tools/stage_bytes.py at
    local[16], 329k docs): the rejoin's key is (url, pivot_mid, pred) —
    strictly WITHIN one document — yet the staged path materialized the
    5.3M-row subrel stream to storage blocks (~1.1 GB localCheckpoint
    write + 1.1 GB re-read for the two join sides) and streamed 26.8M
    joined/exploded rows, all to feed an aggregation whose input is per-doc
    computable. On this host's shared DRAM bus that round-trip IS the
    16-core scaling ceiling. Fusing the per-doc rejoin removes every one of
    those bytes: the only corpus-level traffic left is this function's
    output (per-doc-distinct pairs, the same rows the staged path's
    distinct_pairs sees) into the support aggregation's map-side partials.
    At 1000 executors the same argument holds — the rejoin never needed a
    shuffle, so no shuffle survives.

    pred_rules: small rule relation as a DataFrame (collected here — it is
    broadcast-sized by the same contract the staged rejoins rely on) or an
    iterable of tuples. BOTH rule schemas dispatch, mirroring
    plans.pipeline._rejoin: the binary (subrel_a, subrel_b, pred_a, pred_b)
    table / 4-tuples take the 3-ary specialization; the generalized
    (slot, pred, pred_out) table / 3-tuples take the ANY-ARITY path — an
    n-ary instance at a pivot requires one accepted sub-relation per slot
    of arg_slots AND a rule for every (slot, pred), then emits one triple
    per slot per rule, exactly like triples.rejoin_nary (cross products
    collapse under the per-doc distinct, so only all-slots-non-empty and
    the rule set matter).

    Per-doc semantics are EXACTLY rejoin_triples (resp. rejoin_nary) over
    subrels_from_evidence(evidence_from_combined(doc_kg_combined(...)))
    with url_level=True: same candidate pairs (no a!=b constraint), every
    triple of each rule match, per-url set dedup. Pinned equal in
    tests/test_graph_enrichment.py::test_pairs_fusion_equals_staged and
    tests/test_nary_arity.py::test_4ary_fused_rejoin_equals_staged.
    Callers finish with triples.pairs_to_triples (canon map + support)."""
    from .mentions import build_gazetteer_index
    from .kernels import detect_mentions_in_text, sentence_predicates

    if isinstance(pred_rules, DataFrame):
        # dispatch on the SCHEMA, not the collected rows: an empty nary
        # rule table must stay nary (emit zero triples) exactly like the
        # staged _rejoin, which also dispatches on columns
        nary = {"slot", "pred", "pred_out"} <= set(pred_rules.columns)
        if nary:
            pred_rules = [
                (r["slot"], r["pred"], r["pred_out"])
                for r in pred_rules.collect()
            ]
        else:
            pred_rules = [
                (r["subrel_a"], r["subrel_b"], r["pred_a"], r["pred_b"])
                for r in pred_rules.collect()
            ]
    else:
        pred_rules = list(pred_rules)
        # an empty literal rule list carries no schema: infer the lane
        # from the arity so arity > 2 never hits the binary-only check
        nary = (
            len(pred_rules[0]) == 3 if pred_rules else len(arg_slots) != 2
        )
    # list per key, NOT a single value: the staged rejoins JOIN the rule
    # table, so two rule rows sharing a key both emit — the fused path must
    # do the same (review r6: a dict collapsed to the last rule and
    # silently dropped the others' triples)
    rules: dict[tuple, list] = {}
    if nary:
        for s, p, pout in pred_rules:
            rules.setdefault((s, p), []).append(pout)
        slot_labels = [s for _, s in arg_slots]
    else:
        if len(arg_slots) != 2:
            raise ValueError(
                f"arity {len(arg_slots) + 1} needs a (slot, pred, pred_out) "
                "rule table; the binary-rule table only supports slots (a, b)"
            )  # mirrors plans.pipeline._rejoin's staged-path validation
        for a, b, pa, pb in pred_rules:
            rules.setdefault((a, b), []).append((pa, pb))
        slot_labels = ["a", "b"]

    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(build_gazetteer_index(gazetteer))
    vocab = frozenset(pred_vocab)

    def batches(it):
        gaz = bc.value
        for pdf in it:
            o_url, o_subj, o_pred, o_obj = [], [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                if not isinstance(text, str) or not text:
                    continue
                ms = detect_mentions_in_text(text, gaz)
                if not ms:
                    continue
                sents = sentence_predicates(text, vocab)
                by_mid = {m["mention_id"]: m for m in ms}
                preds_of_sent = {
                    s["sent_id"]: (s["preds"], s["pred_toks"]) for s in sents
                }
                # subrels grouped by (slot, pivot) — pred is a function of
                # the pivot's sentence, so the (pivot_mid, pred) join key
                # collapses to pivot_mid within a document
                sides: dict[str, dict[int, list]] = {
                    s: {} for s in slot_labels
                }
                pred_of_pivot: dict[int, str] = {}
                for r in bfs_evidence(
                    len(sents), ms, pivot_type, arg_slots, max_path_len,
                    co_mention_edges, token_window,
                    [s["n_tokens"] for s in sents],
                ):
                    pm = by_mid[r["pivot_mid"]]
                    pv = r["pivot_mid"]
                    if pv not in pred_of_pivot:
                        sp = preds_of_sent.get(pm["sent_id"])
                        pred_of_pivot[pv] = nearest_pred(
                            sp[0], sp[1], pm["tok_begin"], pm["tok_end"]
                        ) if sp is not None else None
                    pred = pred_of_pivot[pv]
                    if pred is None:
                        continue
                    # the binary path consumes slots 'a'/'b' literally
                    # (rejoin_triples parity); the nary path consumes
                    # exactly arg_slots' labels (rejoin_nary parity) —
                    # either way, other slot labels drop
                    side = sides.get(r["slot"])
                    if side is None:
                        continue
                    side.setdefault(pv, []).append(
                        (by_mid[r["other_mid"]]["surface_norm"],
                         f"{pred}#{r['slot']}")
                    )
                seen: set[tuple[str, str, str]] = set()
                if nary:
                    # an instance needs one accepted subrel per slot AND a
                    # rule for every (slot, pred); then every slot entry
                    # emits per rule — the cross product of rejoin_nary
                    # collapses to exactly this under per-doc distinct
                    for pv in sides[slot_labels[0]]:
                        # non-None by construction: pred-less pivots never
                        # enter sides (filtered at BFS-row intake above)
                        pred = pred_of_pivot[pv]
                        if any(not sides[s].get(pv) for s in slot_labels):
                            continue
                        if any((s, pred) not in rules for s in slot_labels):
                            continue
                        pivot_norm = by_mid[pv]["surface_norm"]
                        for s in slot_labels:
                            for pout in rules[(s, pred)]:
                                for norm, _subrel in sides[s][pv]:
                                    seen.add((pivot_norm, pout, norm))
                else:
                    a_side, b_side = sides["a"], sides["b"]
                    for pv, a_rows in a_side.items():
                        b_rows = b_side.get(pv)
                        if not b_rows:
                            continue
                        pivot_norm = by_mid[pv]["surface_norm"]
                        for a_norm, subrel_a in a_rows:
                            for b_norm, subrel_b in b_rows:
                                for pred_a, pred_b in rules.get(
                                    (subrel_a, subrel_b), ()
                                ):
                                    seen.add((pivot_norm, pred_a, a_norm))
                                    seen.add((pivot_norm, pred_b, b_norm))
                for s, p, o in seen:
                    o_url.append(url)
                    o_subj.append(s)
                    o_pred.append(p)
                    o_obj.append(o)
            yield pd.DataFrame({
                "url": o_url, "subj_norm": o_subj,
                "pred": o_pred, "obj_norm": o_obj,
            })

    return docs.select("url", "text").mapInPandas(batches, schema=PAIRS_SCHEMA)


def mentions_from_combined(combined: DataFrame) -> DataFrame:
    import pyspark.sql.functions as F

    return combined.filter(F.col("kind") == 1).select(
        "url", "mention_id", "ent_id", "ent_type", "surface",
        "surface_norm", "begin", "end", "sent_id", "tok_begin", "tok_end",
    )


def sentences_from_combined(combined: DataFrame) -> DataFrame:
    import pyspark.sql.functions as F

    return combined.filter(F.col("kind") == 0).select(
        "url", "sent_id", "n_tokens", "pred", "preds", "pred_toks"
    )


def evidence_from_combined(combined: DataFrame) -> DataFrame:
    """EVIDENCE_SUBREL_SCHEMA view (same columns as doc_graph_subrels)."""
    import pyspark.sql.functions as F

    return combined.filter(F.col("kind") == 2).select(
        "url", "pivot_mid", "pivot_norm", "pivot_sent", "other_mid",
        "other_norm", "slot", "pred", "path_len", "path",
    )
