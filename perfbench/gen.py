"""Seeded input generation for the benchmark workloads.

Every function here is a pure function of its arguments (numpy
``default_rng``/``RandomState`` seeded from them, no clock, no files), so
the same ``--seed`` gives byte-identical inputs and the program under test
receives only these generated inputs.

- ``rich_pool`` / ``crawl_batch``: crawl pages built from the templates of
  ``fixtures/corpus.py`` (n-ary, cross-sentence, distractor, alias,
  recrawl, non-``en`` and malformed rows) over an enlarged entity pool of
  thousands of alias surfaces, so entity resolution has real work.
- ``triples_table`` / ``query_mix``: a power-law (hub-heavy) triple table
  and the query mix over it, anchors picked by a seeded order in DuckDB.
- ``curate_batch``: documents with planted exact copies, near-duplicate
  edits, A~B~C edit chains and low-quality junk, plus the survivor set the
  curation funnel must return.
"""

from __future__ import annotations

import hashlib
from contextlib import contextmanager

import numpy as np
import pyarrow as pa

from fixtures import corpus as fx
from nary_relation_extraction_decomposed_spark.functions.textnorm import (
    normalize_surface,
    shingles,
)
from nary_relation_extraction_decomposed_spark.operators.sampling import (
    rate_threshold,
)

# ------------------------------------------------------------------ crawl ---

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"
# cross-entity compact-shingle jaccard stays below this, far under the ER
# verify threshold (0.5), so MinHash-LSH recall cannot decide a merge
_MAX_CROSS_JACCARD = 0.3


def _sub_seed(seed: int, *parts: int) -> int:
    """A 32-bit seed derived from (seed, parts) — stable across processes."""
    h = hashlib.blake2b(repr((seed,) + parts).encode(), digest_size=4)
    return int.from_bytes(h.digest(), "big")


def rich_pool(seed: int, n_per_type: int = 300) -> list:
    """``n_per_type`` DRUG, GENE and VARIANT entities whose aliases differ
    only by where the name is split (``bakomelut`` / ``bako melut`` /
    ``bakom-elut``): distinct ``surface_norm`` values with one compact form,
    so each entity is an ER cluster of 2-3 surfaces. Names are
    token-disjoint from each other and from the template vocabulary, and
    any two entities' compact shingle sets have jaccard below
    ``_MAX_CROSS_JACCARD``."""
    rng = np.random.RandomState(_sub_seed(seed, 1))
    used = set(fx._FILLER) | set(fx.PRED_VOCAB) | {
        normalize_surface(w) for w in fx._MULTIBYTE_FILLER
    } | {
        "patients", "carrying", "effect", "observed", "expression",
        "varies", "with", "in", "resistant", "cases", "this", "appears",
        "of", "levels", "were", "recorded", "was", "tested", "alone", "is",
        "a", "gene", "report", "nothing", "here", "treatment", "response",
        "whereas", "clinical",
    }
    by_shingle: dict[str, list[int]] = {}
    sh_sets: list[set] = []
    entities = []
    for ent_type in ("DRUG", "GENE", "VARIANT"):
        count = 0
        while count < n_per_type:
            core = "".join(
                _CONS[rng.randint(len(_CONS))] + _VOWS[rng.randint(len(_VOWS))]
                for _ in range(4)
            ) + _CONS[rng.randint(len(_CONS))]
            cuts = sorted({int(c) for c in rng.choice([4, 5], size=2)})
            toks = {core} | {p for c in cuts for p in (core[:c], core[c:])}
            if toks & used:
                continue
            sh = set(shingles(core))
            shared: dict[int, int] = {}
            for g in sh:
                for j in by_shingle.get(g, ()):
                    shared[j] = shared.get(j, 0) + 1
            if any(
                k / (len(sh) + len(sh_sets[j]) - k) >= _MAX_CROSS_JACCARD
                for j, k in shared.items()
            ):
                continue
            used |= toks
            for g in sh:
                by_shingle.setdefault(g, []).append(len(sh_sets))
            sh_sets.append(sh)
            split = [core[:c] + (" " if i == 0 else "-") + core[c:]
                     for i, c in enumerate(cuts)]
            surfaces = [core.capitalize(), core.upper()] + split
            entities.append(fx.Entity(
                f"{ent_type[0]}{count:04d}", ent_type,
                tuple(dict.fromkeys(surfaces)),
            ))
            count += 1
    return entities


@contextmanager
def _entity_pool(pool: list):
    """Run ``fixtures.corpus.generate_pages`` over ``pool`` instead of its
    built-in 120-entity set (the page templates are reused unchanged)."""
    orig = fx.make_entities
    fx.make_entities = lambda rng: pool
    try:
        yield
    finally:
        fx.make_entities = orig


def crawl_batch(seed: int, op: int, n_pages: int, pool: list) -> dict:
    """One crawl job's pages (``fixtures.corpus.generate_pages`` shape) with
    urls unique to ``op``, so no op can reuse another op's output."""
    with _entity_pool(pool):
        corpus = fx.generate_pages(n_pages, seed=_sub_seed(seed, 2, op))
    for p in corpus["pages"]:
        p["url"] = p["url"].replace("/p/", f"/s{seed}o{op}/p/", 1)
    return corpus


PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
GAZETTEER_SCHEMA = pa.schema([
    ("surface_norm", pa.string()), ("ent_id", pa.string()),
    ("ent_type", pa.string()), ("snap_ts", pa.timestamp("us")),
])


def pages_table(corpus: dict) -> pa.Table:
    return pa.Table.from_pylist(corpus["pages"], schema=PAGES_SCHEMA)


# ------------------------------------------------------------------ query ---

N_PREDS = 16


def triples_table(seed: int, n_rows: int, n_entities: int = 200_000) -> pa.Table:
    """(subj, pred, obj, support) with distinct (subj, pred, obj): subjects
    and objects Zipf-like (density ~1/k) over ``e<k>`` ids, so low ``k``
    are hubs; predicates ``p0..p15`` skewed (p0 most frequent)."""
    rng = np.random.default_rng(_sub_seed(seed, 3))
    m = int(n_rows * 1.3)

    def powerlaw(n):
        return np.exp(rng.random(n) * np.log(n_entities)).astype(np.int64) - 1

    pw = 1.0 / np.arange(1, N_PREDS + 1) ** 0.7
    s, o = powerlaw(m), powerlaw(m)
    p = rng.choice(N_PREDS, size=m, p=pw / pw.sum())
    key = (s * N_PREDS + p) * n_entities + o
    _, first = np.unique(key, return_index=True)
    keep = np.sort(first)[:n_rows]
    if len(keep) < n_rows:
        raise ValueError(f"only {len(keep)} distinct triples for {n_rows}")
    ents = pa.array([f"e{k}" for k in range(n_entities)])
    preds = pa.array([f"p{k}" for k in range(N_PREDS)])
    return pa.table({
        "subj": ents.take(pa.array(s[keep])),
        "pred": preds.take(pa.array(p[keep])),
        "obj": ents.take(pa.array(o[keep])),
        "support": pa.array(rng.integers(1, 9, len(keep)), pa.int64()),
    })


QUERY_KINDS = ("lookup", "chain", "path", "reach")
QUERY_CYCLE = "llccppllccppllccpprr"
# Anchor candidates per kind, in a seeded order, keeping only anchors whose
# answer-size estimate (lookup: rows; chain, path: joined rows before
# DISTINCT; reach: 2-hop paths) lies in a band, so every query of a kind
# does a similar amount of work whatever the seed.
_CANDIDATES = {
    "lookup": """
        SELECT subj FROM t WHERE pred = $p1 GROUP BY subj
        HAVING count(*) BETWEEN 3 AND 30 ORDER BY md5(subj || $seed)""",
    "chain": """
        WITH d AS (SELECT subj, count(*) AS n FROM t WHERE pred = $p2
                   GROUP BY subj)
        SELECT a.subj FROM t a JOIN d ON a.obj = d.subj WHERE a.pred = $p1
        GROUP BY a.subj HAVING sum(n) BETWEEN 300 AND 3000
        ORDER BY md5(a.subj || $seed)""",
    "path": """
        WITH d AS (SELECT obj, count(*) AS n FROM t WHERE pred = $p3
                   GROUP BY obj)
        SELECT a.subj FROM t a JOIN d ON a.obj = d.obj
        WHERE a.pred IN ($p1, $p2)
        GROUP BY a.subj HAVING sum(n) BETWEEN 300 AND 3000
        ORDER BY md5(a.subj || $seed)""",
    "reach": """
        WITH d AS (SELECT subj, count(*) AS n FROM t WHERE pred = $p1
                   GROUP BY subj)
        SELECT a.subj FROM t a JOIN d ON a.obj = d.subj WHERE a.pred = $p1
        GROUP BY a.subj HAVING sum(n) BETWEEN 10 AND 80
        ORDER BY md5(a.subj || $seed)""",
}


def query_plan(n: int) -> list[tuple[str, tuple[str, ...]]]:
    """(kind, predicates) of queries 0..n-1 — the same for every seed.

    A fixed 20-query cycle: 30% lookup, 30% chain, 30% path, 10% reach,
    so over whole cycles the median and 75th percentile fall inside one
    kind's latency range, not on the boundary between two. Kinds come in
    pairs, so two clients run like queries side by side and a traced run
    that alternates untraced and traced ops compares like with like."""
    names = {k[0]: k for k in QUERY_KINDS}
    plan = []
    for i in range(n):
        kind = names[QUERY_CYCLE[i % len(QUERY_CYCLE)]]
        p = [f"p{i % N_PREDS}", f"p{(i * 7 + 3) % N_PREDS}", f"p{(i * 3 + 1) % N_PREDS}"]
        plan.append((kind, tuple(p[:{"lookup": 1, "chain": 2, "path": 3, "reach": 1}[kind]])))
    return plan


def query_mix(seed: int, n: int, duck) -> list[dict]:
    """``n`` queries of ``query_plan(n)`` over the triple table loaded as
    ``t`` in the DuckDB connection ``duck``, each anchored at a constant
    entity no other query of the mix uses."""
    candidates: dict = {}
    used: set[str] = set()
    out = []
    for kind, preds in query_plan(n):
        if (kind, preds) not in candidates:
            params = {f"p{k + 1}": p for k, p in enumerate(preds)}
            candidates[kind, preds] = iter([r[0] for r in duck.execute(
                _CANDIDATES[kind], {**params, "seed": f":{seed}"}).fetchall()])
        e = next(a for a in candidates[kind, preds] if a not in used)
        used.add(e)
        if kind == "lookup":
            out.append({"kind": kind, "pattern": [(e, preds[0], "?o")]})
        elif kind == "chain":
            out.append({"kind": kind,
                        "pattern": [(e, preds[0], "?m"), ("?m", preds[1], "?o")]})
        elif kind == "path":
            out.append({"kind": kind, "reorder": True, "pattern": [
                (e, f"{preds[0]}|{preds[1]}", "?m"), ("?m", f"^{preds[2]}", "?z")]})
        else:
            out.append({"kind": kind, "pred": preds[0], "max_hops": 3,
                        "source": e})
    return out


# ---------------------------------------------------------------- curate ---

CURATE_RATES = {"en": 1.0, "de": 0.5}
CURATE_DEFAULT_RATE = 0.5
CURATE_SALT = "curate"
CURATE_MIN_QUALITY = 0.2
_STOP = ("the", "of", "and", "with", "for", "data")


def _draw_passes(doc_id: int, lang: str) -> bool:
    """Python twin of operators/sampling's md5-prefix rule."""
    thr = rate_threshold(CURATE_RATES.get(lang, CURATE_DEFAULT_RATE))
    h = hashlib.md5(f"{CURATE_SALT}:{doc_id}".encode()).hexdigest()[:8]
    return h < thr


def curate_batch(seed: int, op: int, n_docs: int, n_words: int = 60) -> tuple:
    """(documents table, expected surviving doc ids) for one curation job.

    ~80% of rows are distinct base documents (random words from a 6000-word
    vocabulary, ~10% stopwords); the rest are planted: exact copies,
    one-word edits (word-3-gram jaccard ~0.9), A~B~C edit chains and
    low-quality junk (a few punctuation-heavy tokens, no stopwords). Planted
    copies get higher ids than their originals, so each group's survivor is
    the original. Expected survivors are the non-junk base documents that
    the stratified md5 sample keeps."""
    rng = np.random.default_rng(_sub_seed(seed, 5, op))
    cons = rng.integers(0, len(_CONS), (6000, 3))
    vows = rng.integers(0, len(_VOWS), (6000, 3))
    vocab = np.array([
        "".join(_CONS[c] + _VOWS[v] for c, v in zip(cs, vs)) + str(k)
        for k, (cs, vs) in enumerate(zip(cons.tolist(), vows.tolist()))
    ])
    langs = np.array(["en", "de", "fr"])
    base_id = (op + 1) * 10_000_000
    n_base = int(n_docs * 0.8)

    def words() -> list[str]:
        w = vocab[rng.integers(0, len(vocab), n_words)].tolist()
        for i in np.flatnonzero(rng.random(n_words) < 0.1):
            w[i] = _STOP[int(rng.integers(0, len(_STOP)))]
        return w

    def edit(w: list[str]) -> list[str]:
        w = list(w)
        i = int(rng.integers(0, len(w)))
        w[i] = str(vocab[int(rng.integers(0, len(vocab)))]) + "x"
        return w

    def text(w: list[str]) -> str:
        return " ".join(w) + "."

    ids, texts, lang = [], [], []
    base_words = []
    for k in range(n_base):
        w = words()
        base_words.append(w)
        ids.append(base_id + k)
        texts.append(text(w))
        lang.append(str(langs[int(rng.integers(0, 3))]))
    junk = set()
    next_id = base_id + n_base
    # each base doc joins at most one planted group
    originals = rng.permutation(n_base)
    gi = 0
    while next_id < base_id + n_docs:
        kind = rng.random()
        if kind < 0.15:  # junk
            ids.append(next_id)
            texts.append(" ".join(
                f"{vocab[int(rng.integers(0, len(vocab)))]}!?" for _ in range(4)))
            lang.append("en")
            junk.add(next_id)
            next_id += 1
            continue
        a = int(originals[gi])
        gi += 1
        if kind < 0.45:  # exact copy
            copies = [base_words[a]]
        elif kind < 0.8:  # near-duplicate edit
            copies = [edit(base_words[a])]
        else:  # A ~ B ~ C chain
            b = edit(base_words[a])
            copies = [b, edit(b)]
        for w in copies:
            if next_id >= base_id + n_docs:
                break
            ids.append(next_id)
            texts.append(text(w))
            lang.append(lang[a])
            next_id += 1
    expected = sorted(
        i for i, lg in zip(ids[:n_base], lang[:n_base]) if _draw_passes(i, lg)
    )
    order = rng.permutation(len(ids))
    table = pa.table({
        "doc_id": pa.array([ids[i] for i in order], pa.int64()),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array([lang[i] for i in order]),
    })
    return table, expected
