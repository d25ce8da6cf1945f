"""Pure-Python per-document kernels (NO pyspark imports here).

These run inside Arrow-vectorized UDF bodies (mapInPandas / applyInPandas),
batch-at-a-time; they are also imported by fixtures/corpus.py to compute the
golden outputs, so pipeline and goldens share one spec by construction.

Reference parity note: /root/reference was empty this session (SURVEY.md §0);
the binding spec is BASELINE.json's north star — per-document entity-mention
detection, document-level entity graph with adjacency lists built in-UDF, and
BFS shortest-path evidence replacing networkx. The graph model below:

  nodes   0..S-1            = sentences (S = number of text lines)
  nodes   S..S+M-1          = mentions (mention_id = rank in (begin,end) order)
  edges   mention <-> its sentence;  sentence i <-> sentence i+1
  ENRICHED (default ON since round 3, the dependency/coref stand-in):
  edges   mention <-> mention sharing a sentence (co-mention, length-1
          evidence for same-sentence pairs; never changes acceptance)
  edges   mention <-> mention in ADJACENT sentences whose token gap across
          the boundary is <= TOKEN_WINDOW (proximity proxy for coreference:
          "X ... . This effect ... Y" links X to Y directly when the
          discourse-adjacent mentions are close)

In the BASE graph two mentions in one sentence are 2 edges apart, in
adjacent sentences 3, k sentences apart k+2; MAX_PATH_LEN=3 accepts
same/adjacent-sentence evidence. Token-window edges can CHAIN: a pivot
two sentences from an argument (base distance 4, rejected) becomes
accepted when each hop crosses a boundary within the window — goldens
are generated with the enriched graph (fixtures/corpus.py shares these
kernels), and the enrichment P/R delta vs the base-graph goldens is
recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import re
from collections import deque
from dataclasses import dataclass

MAX_PATH_LEN = 3          # max BFS edges for an accepted evidence path
MAX_MENTIONS_PER_DOC = 512  # pathological docs truncated deterministically
MAX_GAZ_TOKENS = 4        # longest gazetteer surface, in normalized tokens
TOKEN_WINDOW = 12         # max cross-boundary token gap for a proximity edge

_TOKEN_CHARS = frozenset("abcdefghijklmnopqrstuvwxyz0123456789")
# maximal runs of _TOKEN_CHARS as a compiled regex: [a-z0-9] in a str
# pattern is the same ASCII-only class (no IGNORECASE/Unicode classes), so
# finditer over the lowered line yields exactly the runs the old
# char-by-char loop produced, offsets included (equivalence fuzz-checked
# over 5k adversarial strings incl. length-changing lower() cases;
# measured ~3% faster on the bench corpus — kept for simplicity)
_TOKEN_RUN_RE = re.compile(r"[a-z0-9]+")


def split_sentences(text: str) -> list[str]:
    """Sentences == extractor output lines (extractor emits one line per
    block element). Total + deterministic."""
    return text.split("\n") if text else []


def tokenize_with_offsets(line: str) -> list[tuple[str, int, int]]:
    """Lowercased alnum token runs with [begin, end) char offsets into the
    LOWERED line (identical to offsets into `line` whenever lower() is
    length-preserving — the frozen historical behavior). Mirrors
    normalize_surface: a token is a maximal run of chars alphanumeric
    after lowercasing."""
    return [
        (m.group(), m.start(), m.end())
        for m in _TOKEN_RUN_RE.finditer(line.lower())
    ]


@dataclass(frozen=True)
class GazetteerIndex:
    """Token-sequence -> (ent_id, ent_type), longest-match-first.

    entries: {(tok, tok, ...): (ent_id, ent_type)}
    first_tok: {tok: max phrase length starting with tok} (scan pruning)
    """

    entries: dict[tuple[str, ...], tuple[str, str]]
    first_tok: dict[str, int]

    @staticmethod
    def build(rows: list[tuple[str, str, str]]) -> "GazetteerIndex":
        """rows: (surface_norm, ent_id, ent_type). Ties on identical surface
        resolve to the lexicographically smallest (ent_id, ent_type) —
        deterministic regardless of input order."""
        entries: dict[tuple[str, ...], tuple[str, str]] = {}
        first: dict[str, int] = {}
        for surface_norm, ent_id, ent_type in sorted(rows):
            key = tuple(surface_norm.split())
            if not key or len(key) > MAX_GAZ_TOKENS:
                continue
            if key not in entries:  # sorted() => smallest (surface, ent_id) wins
                entries[key] = (ent_id, ent_type)
                first[key[0]] = max(first.get(key[0], 0), len(key))
        return GazetteerIndex(entries, first)


def detect_mentions_in_text(text: str, gaz: GazetteerIndex) -> list[dict]:
    """Longest-match left-to-right gazetteer scan, no overlaps.

    Returns mention dicts ordered by (begin, end) with ordinal mention_id:
    {mention_id, ent_id, ent_type, surface, surface_norm, begin, end,
     sent_id, tok_begin, tok_end}. Char offsets are into the full document
    text ('\\n' counts one char); tok_begin/tok_end are TOKEN indices
    within the sentence ([tok_begin, tok_end) span) — the token-window
    proximity edges in bfs_evidence are computed from these.
    """
    first = gaz.first_tok
    if not first:
        return []  # empty dictionary: the scan loop below would match nothing
    # C-speed prefilter (r7): a mention REQUIRES its first token to occur as
    # a complete token somewhere in the document, so a single findall over
    # the lowered text + one set-disjointness check skips the per-line
    # Python scan loop entirely for entity-free documents — the majority of
    # real web text. Token-set equivalence with the per-line tokenization
    # holds because str.lower() is a per-character mapping ('\n' maps to
    # itself), so tokens never change or span line boundaries.
    if first.keys().isdisjoint(_TOKEN_RUN_RE.findall(text.lower())):
        return []
    out: list[dict] = []
    offset = 0
    for sent_id, line in enumerate(split_sentences(text)):
        low = line.lower()
        # per-line prefilter: findall (no match objects) + set check before
        # paying for offset tuples — most lines of an entity-BEARING doc
        # still contain no dictionary token
        if first.keys().isdisjoint(_TOKEN_RUN_RE.findall(low)):
            offset += len(line) + 1
            continue
        toks = [
            (m.group(), m.start(), m.end())
            for m in _TOKEN_RUN_RE.finditer(low)
        ]
        i = 0
        n = len(toks)
        while i < n:
            maxlen = gaz.first_tok.get(toks[i][0], 0)
            matched = 0
            for length in range(min(maxlen, n - i), 0, -1):
                key = tuple(t[0] for t in toks[i : i + length])
                hit = gaz.entries.get(key)
                if hit is not None:
                    begin = offset + toks[i][1]
                    end = offset + toks[i + length - 1][2]
                    out.append(
                        {
                            "ent_id": hit[0],
                            "ent_type": hit[1],
                            "surface": text[begin:end],
                            "surface_norm": " ".join(key),
                            "begin": begin,
                            "end": end,
                            "sent_id": sent_id,
                            "tok_begin": i,
                            "tok_end": i + length,
                        }
                    )
                    matched = length
                    break
            i += matched if matched else 1
        offset += len(line) + 1  # the '\n'
    out.sort(key=lambda m: (m["begin"], m["end"]))
    del out[MAX_MENTIONS_PER_DOC:]
    for mid, m in enumerate(out):
        m["mention_id"] = mid
    return out


def sentence_predicates(text: str, pred_vocab: frozenset[str]) -> list[dict]:
    """One row per sentence: {sent_id, n_tokens, pred, preds, pred_toks}.

    pred = the FIRST pred-vocab token of the sentence (None if absent) —
    the sentence-level summary attribute. preds/pred_toks = ALL pred-vocab
    tokens with their TOKEN indexes, in order: the inputs to the
    nearest-predicate attachment rule (nearest_pred below), which resolves
    the evidence predicate per PIVOT MENTION rather than per sentence."""
    rows = []
    for sent_id, line in enumerate(split_sentences(text)):
        # findall, not tokenize_with_offsets: this consumer never reads the
        # char offsets, and findall skips the per-token match objects and
        # .start()/.end() calls (same regex, same token strings)
        toks = _TOKEN_RUN_RE.findall(line.lower())
        preds = [(i, t) for i, t in enumerate(toks) if t in pred_vocab]
        rows.append(
            {
                "sent_id": sent_id,
                "n_tokens": len(toks),
                "pred": preds[0][1] if preds else None,
                "preds": [p for _, p in preds],
                "pred_toks": [i for i, _ in preds],
            }
        )
    return rows


def nearest_pred(
    preds: list[str] | None,
    pred_toks: list[int] | None,
    tok_begin: int,
    tok_end: int,
) -> str | None:
    """Predicate-attachment rule (round 4 — the final dependency-free
    refinement of the doc graph's dependency/coref stand-in): the evidence
    predicate for a pivot mention is the pred-vocab token NEAREST to the
    mention's token span [tok_begin, tok_end) within its sentence, not the
    sentence's first pred token — on a multi-predicate sentence
    ("X inhibits G whereas D activates V") the first-token rule misassigns
    every pivot to the sentence-initial predicate, while a dependency parse
    would attach each argument to its governing verb; token proximity is
    the deterministic, dependency-free proxy for that attachment.

    Distance = 0 if the token is inside the span, else gap to the nearest
    span edge; ties -> the EARLIER token position. None when the sentence
    has no pred tokens. The SQL twin (zip_with + array_min over
    struct(dist, tok, pred)) lives in triples.binary_subrels; the DuckDB
    twin in plans/q_kg.py's decompose_nary oracle."""
    # explicit len checks: preds arrives as a numpy array from Arrow batches,
    # whose truthiness raises for length > 1
    if preds is None or pred_toks is None or len(preds) == 0:
        return None
    best = None
    for p, t in zip(preds, pred_toks):
        d = max(tok_begin - t, t - (tok_end - 1), 0)
        if best is None or (d, t) < best[0]:
            best = ((d, t), p)
    return best[1]


def bfs_evidence(
    n_sents: int,
    mentions: list[dict],
    pivot_type: str,
    arg_slots: list[tuple[str, str]],
    max_path_len: int = MAX_PATH_LEN,
    co_mention_edges: bool = True,
    token_window: int | None = TOKEN_WINDOW,
    sent_tok_counts: list[int | None] | None = None,
) -> list[dict]:
    """Per-document graph + BFS shortest-path evidence (replaces networkx).

    mentions: dicts with mention_id, ent_type, sent_id (mention_id ordinal);
    tok_begin/tok_end (token span within the sentence) enable the
    token-window edges and are optional for base-graph callers.
    arg_slots: [(arg_ent_type, slot_label), ...] e.g. [('GENE','a'),('VARIANT','b')].
    Returns rows {pivot_mid, other_mid, slot, path_len, path} for candidate
    (pivot-typed mention, slot-typed mention) pairs whose shortest path has
    <= max_path_len edges. path = node-id list, sentence nodes 0..S-1,
    mention m -> node S + mention_id.

    Enrichment (both ON by default — the dependency/coref stand-in the
    reference's richer doc graph calls for):
    - co_mention_edges: every mention pair sharing a sentence connects
      directly; same-sentence evidence becomes length 1 instead of 2.
      These shortcuts never span sentences, so the ACCEPTED pair set under
      max_path_len is unchanged — asserted in tests/test_graph_enrichment.py.
    - token_window: mentions in ADJACENT sentences whose token gap across
      the boundary ((sent_toks - tok_end) + next's tok_begin) is <=
      token_window connect directly (needs sent_tok_counts + tok spans;
      silently skipped when absent). A sentence whose token count is
      UNKNOWN (None entry in sent_tok_counts — e.g. the fallback path
      that derives n_sents from mentions alone) creates no window edges
      across its right boundary: a fabricated count of 0 would make the
      cross-boundary gap negative and invent proximity edges the golden
      kernel never had. These CAN change acceptance: two
      boundary-crossing hops chain a pivot to an argument two sentences
      away at path 2 where the base graph needs 4 — goldens are generated
      with the enriched graph (fixtures/corpus.py shares this kernel) and
      the measured triple-set delta vs base-graph goldens is documented in
      BENCH/BASELINE.md.
    """
    S = n_sents
    adj: list[list[int]] = [[] for _ in range(S + len(mentions))]
    for i in range(S - 1):  # sentence chain
        adj[i].append(i + 1)
        adj[i + 1].append(i)
    by_sent: dict[int, list[dict]] = {}
    for m in mentions:
        node = S + m["mention_id"]
        sent = m["sent_id"]
        if 0 <= sent < S:
            adj[node].append(sent)
            adj[sent].append(node)
            by_sent.setdefault(sent, []).append(m)
    if co_mention_edges:
        for group in by_sent.values():
            for i, m1 in enumerate(group):
                u = S + m1["mention_id"]
                for m2 in group[i + 1:]:
                    v = S + m2["mention_id"]
                    adj[u].append(v)
                    adj[v].append(u)
    if token_window is not None and sent_tok_counts:
        for sent, group in by_sent.items():
            nxt = by_sent.get(sent + 1)
            if not nxt or sent >= len(sent_tok_counts):
                continue
            ntoks = sent_tok_counts[sent]
            if ntoks is None:  # unknown count -> no edges across this boundary
                continue
            for m1 in group:
                t1e = m1.get("tok_end")
                if t1e is None:
                    continue
                for m2 in nxt:
                    t2b = m2.get("tok_begin")
                    if t2b is None:
                        continue
                    if (ntoks - t1e) + t2b <= token_window:
                        u = S + m1["mention_id"]
                        v = S + m2["mention_id"]
                        adj[u].append(v)
                        adj[v].append(u)
    for lst in adj:
        lst.sort()  # deterministic BFS neighbor order

    slot_by_type = dict(arg_slots)
    pivots = [m for m in mentions if m["ent_type"] == pivot_type]
    targets = [m for m in mentions if m["ent_type"] in slot_by_type]
    if not pivots or not targets:
        return []

    out: list[dict] = []
    for pm in pivots:
        src = S + pm["mention_id"]
        # Bounded BFS from the pivot mention; parents give the path.
        dist = {src: 0}
        parent: dict[int, int] = {}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] >= max_path_len:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    parent[v] = u
                    q.append(v)
        for tm in targets:
            if tm["mention_id"] == pm["mention_id"]:
                continue
            dst = S + tm["mention_id"]
            d = dist.get(dst)
            if d is None or d > max_path_len:
                continue
            path = [dst]
            while path[-1] != src:
                path.append(parent[path[-1]])
            path.reverse()
            out.append(
                {
                    "pivot_mid": pm["mention_id"],
                    "other_mid": tm["mention_id"],
                    "slot": slot_by_type[tm["ent_type"]],
                    "path_len": d,
                    "path": path,
                }
            )
    out.sort(key=lambda r: (r["pivot_mid"], r["other_mid"]))
    return out


def doc_evidence(
    n_sents: int,
    mentions: list[dict],
    preds_of_sent: dict,
    sent_tok_counts: list[int | None] | None,
    pivot_type: str,
    arg_slots: list[tuple[str, str]],
    max_path_len: int = MAX_PATH_LEN,
    co_mention_edges: bool = True,
    token_window: int | None = TOKEN_WINDOW,
) -> list[dict]:
    """One document's evidence rows (graph.EVIDENCE_SUBREL_SCHEMA without
    url): bfs_evidence rows plus the pivot's and argument's surface_norm,
    the pivot's sentence, and pred = nearest_pred of the pivot mention,
    resolved once per pivot. preds_of_sent maps sent_id -> (preds,
    pred_toks); a pivot whose sentence is absent gets pred None."""
    by_mid = {m["mention_id"]: m for m in mentions}
    pred_of_pivot: dict[int, str | None] = {}
    rows = bfs_evidence(n_sents, mentions, pivot_type, arg_slots, max_path_len,
                        co_mention_edges, token_window, sent_tok_counts)
    for r in rows:
        pv = r["pivot_mid"]
        pm = by_mid[pv]
        if pv not in pred_of_pivot:
            sp = preds_of_sent.get(pm["sent_id"])
            pred_of_pivot[pv] = nearest_pred(
                sp[0], sp[1], pm["tok_begin"], pm["tok_end"]
            ) if sp is not None else None
        r["pivot_norm"] = pm["surface_norm"]
        r["pivot_sent"] = pm["sent_id"]
        r["other_norm"] = by_mid[r["other_mid"]]["surface_norm"]
        r["pred"] = pred_of_pivot[pv]
    return rows


def doc_pairs(
    evidence: list[dict],
    rules: dict[tuple[str, str], list[str]],
    slot_labels: list[str],
) -> set[tuple[str, str, str]]:
    """One document's rejoin: doc_evidence rows -> the distinct
    (subj_norm, pred, obj_norm) triples, the per-doc form of
    triples.rejoin_nary. rules maps (slot, pred) -> the output predicates
    of its rule rows (triples.slot_rule_rows); every rule row emits.

    An instance at a pivot needs an evidence row with non-null pred for
    every slot of slot_labels and a rule for every (slot, pred); it emits
    (pivot_norm, output predicate, other_norm) per slot filler per rule —
    the filler cross product of the Spark rejoin, under distinct."""
    sides: dict[str, dict[int, list[str]]] = {s: {} for s in slot_labels}
    pivots: dict[int, tuple[str, str]] = {}
    for r in evidence:
        side = sides.get(r["slot"])
        if r["pred"] is None or side is None:
            continue
        side.setdefault(r["pivot_mid"], []).append(r["other_norm"])
        # pred is a function of the pivot mention, so the Spark rejoin's
        # (url, pivot_mid, pred) key is pivot_mid within one document
        pivots[r["pivot_mid"]] = (r["pivot_norm"], r["pred"])
    out: set[tuple[str, str, str]] = set()
    for pv, (pivot_norm, pred) in pivots.items():
        if any(pv not in sides[s] or (s, pred) not in rules
               for s in slot_labels):
            continue
        for s in slot_labels:
            for out_pred in rules[(s, pred)]:
                for norm in sides[s][pv]:
                    out.add((pivot_norm, out_pred, norm))
    return out
