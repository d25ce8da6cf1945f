"""End-to-end KG-construction pipeline, defined ONCE as a stage list.

pages(url, warc_ts, html, text, lang)
  -> filter (lang/null, pre-UDF so it pushes into the scan)
  -> resolve text (frozen extractor, mapInPandas; drops html)
  -> dedup latest per url (max(struct(warc_ts, length, text)) per url,
     see textprep.dedup_latest_text)
  -> combined doc pass: mention detection + sentence analysis + per-doc
     graph BFS + decomposition attributes in ONE mapInPandas (broadcast
     gazetteer) — zero shuffles docs->evidence, since dedup leaves one row
     per url; mentions/sentences/evidence/subrels are filter+project views
     of it. Enriched graph: co-mention + token-window edges, default ON.
  -> ER canonical map (MinHash-LSH + connected components)
  -> rejoin into (subj, pred, obj) triples + support

Stage graph (stage: fingerprint parents; canon only with canonicalize):

  default lane       docs: config -> combined: docs, gazetteer
                     -> canon: combined -> triples: combined, canon, rules
  fused_rejoin lane  docs: config -> pairs: docs, gazetteer, rules
                     -> mentions: docs, gazetteer -> canon: mentions
                     -> triples: pairs, canon

run_pipeline builds the list in order; run_pipeline_checkpointed wraps
every build in StageCheckpointer.run_stage (plans/checkpoint.py: per-stage
parquet + manifest, kill-resume). Both runners read the same list, so they
run the same operators under every PipelineConfig.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame

from ..operators import er, graph, mentions as M, textprep, triples as T
from ..operators.kernels import MAX_PATH_LEN, TOKEN_WINDOW


def _rejoin(subrels, pred_rules, canon, config, url_level=False):
    """Rejoin dispatch on the rule-table schema: a (slot, pred, pred_out)
    table takes the GENERALIZED n-ary path (any arity = len(arg_slots)+1);
    the legacy (subrel_a, subrel_b, pred_a, pred_b) binary-rule table takes
    the 3-ary specialization. url_level=True returns the distinct
    (subj, pred, obj, url) evidence pairs instead of aggregated support
    (the streaming delta granularity)."""
    cols = set(pred_rules.columns)
    if {"slot", "pred", "pred_out"} <= cols:
        slots = [s for _, s in config.arg_slots]
        return T.rejoin_nary(subrels, pred_rules, slots, canon, url_level)
    if len(config.arg_slots) != 2:
        raise ValueError(
            f"arity {len(config.arg_slots) + 1} needs a (slot, pred, pred_out) "
            f"rule table; the binary-rule table {sorted(cols)} only supports "
            "slots (a, b)"
        )
    return T.rejoin_triples(subrels, pred_rules, canon, url_level)


@dataclass(frozen=True)
class PipelineConfig:
    pivot_type: str = "DRUG"
    arg_slots: tuple[tuple[str, str], ...] = (("GENE", "a"), ("VARIANT", "b"))
    pred_vocab: tuple[str, ...] = ("inhibits", "activates", "binds", "modulates")
    lang: str = "en"
    max_path_len: int = MAX_PATH_LEN
    canonicalize: bool = True
    # enriched doc graph (DEFAULT ON since round 3 — the dependency/coref
    # stand-in; goldens are generated with both flags at these defaults):
    # co-mention = same-sentence mention<->mention edges (never changes
    # acceptance); token_window = adjacent-sentence proximity edges (CAN
    # accept chained cross-sentence evidence the base graph rejects) —
    # see operators/kernels.bfs_evidence
    co_mention_edges: bool = True
    token_window: int | None = TOKEN_WINDOW
    # round 6: ALSO fuse decompose + rejoin + per-doc triple dedup into the
    # doc mapInPandas (graph.doc_kg_pairs) — the rejoin key
    # (url, pivot_mid, pred) never leaves a document, so the subrel
    # materialization (localCheckpoint write + two re-reads) and
    # corpus-wide self-join are pure overhead when only `triples` is
    # consumed; the support aggregation becomes the pipeline's ONLY
    # corpus-level exchange (measured 13.2x JVM bytes/doc, 2.35x wall —
    # BENCH/BASELINE.md round 6). Trade-off: this lane never surfaces the
    # sentences/evidence/subrels frames (None in the result), and
    # canonicalizing pays a second detection pass (detect_mentions) for
    # the canon map's corpus mention surfaces. Both rule-table schemas
    # dispatch inside doc_kg_pairs (binary subrel pairs AND the generalized
    # (slot, pred, pred_out) any-arity tables), mirroring _rejoin.
    fused_rejoin: bool = False
    # latest-per-url dedup mode — the pipeline's ONLY corpus-wide
    # full-text shuffle:
    #   'latest' (default): always dedup (a crawl always has re-crawls);
    #   'auto':  exact narrow probe (textprep.urls_are_unique, ~50 B/row)
    #            first — a corpus that is already one-row-per-url (re-run
    #            over a cleaned snapshot) skips the text shuffle entirely,
    #            making the combined pass truly zero-shuffle from parquet
    #            to evidence;
    #   'skip':  caller asserts one row per url.
    # The one-row-per-url contract that doc_kg_combined/doc_kg_pairs
    # require holds in all three modes.
    dedup_mode: str = "latest"
    # partitioning floor for Python-heavy stages (None -> 2x cores); see
    # operators/graph.py on why AQE byte-coalescing must not size these
    python_parallelism: int | None = None
    collect_metrics: bool = False


@dataclass
class PipelineResult:
    docs: DataFrame
    # views of the combined stage in the default lane; in the fused_rejoin
    # lane sentences/evidence/subrels are None (the pairs UDF never
    # surfaces them) and mentions is set only when canonicalize is on
    mentions: DataFrame | None
    sentences: DataFrame | None
    evidence: DataFrame | None
    subrels: DataFrame | None
    canon_map: DataFrame | None
    triples: DataFrame
    metrics: dict | None = None  # extraction accumulators (read after action)


@dataclass(frozen=True)
class Stage:
    """One node of the stage graph. `build` maps the frames built so far
    (stage and view names) to this stage's frame; `parents` name the
    stages and aux inputs ('config', 'gazetteer', 'rules') whose
    fingerprints chain into this stage's checkpoint fingerprint; `views`
    derives filter+project frames from the stage's output; `persist`
    marks the multi-consumer frames the plain runner caches (the
    checkpointed runner re-reads its parquet instead)."""

    name: str
    build: Callable[[dict], DataFrame]
    parents: tuple[str, ...]
    persist: bool = False
    views: Callable[[DataFrame], dict] | None = None


def _combined_views(combined: DataFrame) -> dict[str, DataFrame]:
    ev = graph.evidence_from_combined(combined)
    return {
        "mentions": graph.mentions_from_combined(combined),
        "sentences": graph.sentences_from_combined(combined),
        "evidence": ev,
        "subrels": T.subrels_from_evidence(ev),
    }


def _stages(
    pages: DataFrame,
    gazetteer: DataFrame,
    pred_rules: DataFrame,
    config: PipelineConfig,
    metrics: dict | None = None,
) -> list[Stage]:
    """The KG stage list for `config`, in build order (module docstring)."""
    width = config.python_parallelism or (
        pages.sparkSession.sparkContext.defaultParallelism * 2
    )
    doc_args = (gazetteer, list(config.pred_vocab), config.pivot_type,
                list(config.arg_slots))
    graph_kw = dict(
        max_path_len=config.max_path_len,
        co_mention_edges=config.co_mention_edges,
        token_window=config.token_window,
    )

    def docs(_):
        # Extract FIRST (map-only, html never shuffles), THEN dedup latest
        # per url on text rows — at web scale html is 5-20x the text, so
        # this keeps the wide shuffle small at the cost of extracting the
        # few % duplicate crawls (accumulator caveat: task retries can
        # overcount; the checkpointed runner's manifest rows are exact).
        pre = textprep.filter_pages(pages, config.lang)
        resolved = textprep.resolve_text(pre, metrics=metrics)
        if config.dedup_mode == "skip" or (
            config.dedup_mode == "auto"
            and textprep.urls_are_unique(pre.select("url"))
        ):
            # the dedup's repartition doubled as the Python-stage width
            # pin; without it, only top up when the source is
            # under-partitioned (pre-partitioned sources keep the true
            # zero-shuffle path)
            if resolved.rdd.getNumPartitions() < width:
                return resolved.repartition(width)
            return resolved
        return textprep.dedup_latest_text(resolved, num_partitions=width)

    canon_parents: tuple[str, ...] = ("canon",) if config.canonicalize else ()
    if config.fused_rejoin:
        # triples-only fast lane (see PipelineConfig.fused_rejoin): ONE doc
        # mapInPandas emits per-doc-distinct pairs; the support agg is the
        # only corpus exchange
        lane = [
            Stage("pairs", lambda f: graph.doc_kg_pairs(
                f["docs"], *doc_args, pred_rules, **graph_kw,
            ), ("docs", "gazetteer", "rules")),
        ]
        if config.canonicalize:
            lane.append(Stage(
                "mentions", lambda f: M.detect_mentions(f["docs"], gazetteer),
                ("docs", "gazetteer"),
            ))
        mentions_from = "mentions"
        triples = Stage("triples", lambda f: T.pairs_to_triples(
            f["pairs"], f.get("canon"),
        ), ("pairs", *canon_parents))
    else:
        # ONE Python crossing and ZERO shuffles from docs to evidence;
        # persisted in the plain runner because the views, ER and the
        # rejoin all read it
        lane = [
            Stage("combined", lambda f: graph.doc_kg_combined(
                f["docs"], *doc_args, **graph_kw,
            ), ("docs", "gazetteer"), persist=True, views=_combined_views),
        ]
        mentions_from = "combined"
        triples = Stage("triples", lambda f: _rejoin(
            f["subrels"], pred_rules, f.get("canon"), config,
        ), ("combined", *canon_parents, "rules"))
    if config.canonicalize:
        lane.append(Stage("canon", lambda f: er.canonical_map(
            f["mentions"].select("surface_norm")
        ), (mentions_from,)))
    return [Stage("docs", docs, ("config",), persist=True), *lane, triples]


def _add(frames: dict, stage: Stage, df: DataFrame) -> None:
    frames[stage.name] = df
    if stage.views is not None:
        frames.update(stage.views(df))


def _result(frames: dict, metrics: dict | None) -> PipelineResult:
    return PipelineResult(
        docs=frames["docs"],
        mentions=frames.get("mentions"),
        sentences=frames.get("sentences"),
        evidence=frames.get("evidence"),
        subrels=frames.get("subrels"),
        canon_map=frames.get("canon"),
        triples=frames["triples"],
        metrics=metrics,
    )


def _metrics(pages: DataFrame, config: PipelineConfig) -> dict | None:
    if not config.collect_metrics:
        return None
    return textprep.make_extract_metrics(pages.sparkSession)


def run_pipeline(
    pages: DataFrame,
    gazetteer: DataFrame,
    pred_rules: DataFrame,
    config: PipelineConfig = PipelineConfig(),
) -> PipelineResult:
    """Build every stage of _stages in order; docs and combined
    are persisted (each feeds several consumers)."""
    metrics = _metrics(pages, config)
    frames: dict[str, DataFrame] = {}
    for stage in _stages(pages, gazetteer, pred_rules, config, metrics):
        df = stage.build(frames)
        _add(frames, stage, df.persist() if stage.persist else df)
    return _result(frames, metrics)


def run_pipeline_checkpointed(
    pages: DataFrame,
    gazetteer: DataFrame,
    pred_rules: DataFrame,
    config: PipelineConfig,
    ckpt_root: str,
    corpus_fp: str,
    gaz_fp: str | None = None,
    rules_fp: str | None = None,
) -> tuple[PipelineResult, "object"]:
    """run_pipeline with per-stage checkpoint/manifest (kill-resume): the
    same stage list, each build wrapped in StageCheckpointer.run_stage.

    Fingerprints chain along each stage's parents, so a rerun after ANY
    kill point skips every committed stage and recomputes only the tail.
    Returns (result, checkpointer) — checkpointer.stats records
    skipped/built per stage.

    The gazetteer and rule-table CONTENT chain into the fingerprints of
    the stages that consume them, so a rerun against the same checkpoint
    root with an edited dim recomputes exactly the affected suffix instead
    of replaying stale results. Both dims are broadcast-class by design;
    pass a precomputed gaz_fp/rules_fp version tag to skip the content
    scan for unusually large sides."""
    from .checkpoint import StageCheckpointer, content_fingerprint, fingerprint

    ck = StageCheckpointer(pages.sparkSession, ckpt_root)
    fps = {
        "config": fingerprint(corpus_fp, repr(config)),
        "gazetteer": gaz_fp or content_fingerprint(gazetteer),
        "rules": rules_fp or content_fingerprint(pred_rules),
    }
    metrics = _metrics(pages, config)
    frames: dict[str, DataFrame] = {}
    for stage in _stages(pages, gazetteer, pred_rules, config, metrics):
        df, fps[stage.name] = ck.run_stage(
            stage.name,
            fingerprint(*(fps[p] for p in stage.parents)),
            partial(stage.build, frames),
        )
        _add(frames, stage, df)
    return _result(frames, metrics), ck
