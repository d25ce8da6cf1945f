"""End-to-end KG-construction pipeline, defined ONCE as a stage list.

pages(url, warc_ts, html, text, lang)
  -> filter (lang/null, pre-UDF so it pushes into the scan)
  -> resolve text (frozen extractor, mapInPandas; drops html)
  -> dedup latest per url (max(struct(warc_ts, length, text)) per url,
     see textprep.dedup_latest_text)
  -> combined doc pass: mention detection + sentence analysis + per-doc
     graph BFS + decomposition + per-doc rejoin in ONE mapInPandas
     (broadcast gazetteer and rules) — zero shuffles docs->triple pairs,
     since dedup leaves one row per url; mentions/sentences/evidence/
     subrels/pairs are filter+project views of it. Enriched graph:
     co-mention + token-window edges, default ON.
  -> ER canonical map (MinHash-LSH + connected components) over the
     mention surfaces
  -> canonical labels + support over the per-doc pairs

Stage graph (stage: fingerprint parents; canon only with canonicalize):

  docs: config -> combined: docs, gazetteer, rules
  -> canon: docs, gazetteer -> triples: combined, canon

fused_rejoin only narrows the row kinds combined emits.

run_pipeline builds the list in order; run_pipeline_checkpointed wraps
every build in StageCheckpointer.run_stage (plans/checkpoint.py: per-stage
parquet + manifest, kill-resume). Both runners read the same list, so they
run the same operators under every PipelineConfig.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, Observation

from ..operators import er, graph, textprep, triples as T
from ..operators.kernels import MAX_PATH_LEN, TOKEN_WINDOW


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
    # triples-only doc pass: combined emits only the per-doc triple pairs
    # (plus the mention rows canonicalizing reads) and skips mention-free
    # docs before sentence analysis, so far fewer rows cross back into the
    # JVM. Trade-off: the sentences/evidence/subrels frames are None in the
    # result (mentions too without canonicalize).
    fused_rejoin: bool = False
    # latest-per-url dedup mode — the pipeline's ONLY corpus-wide
    # full-text shuffle:
    #   'latest' (default): always dedup (a crawl always has re-crawls);
    #   'skip':  caller asserts one row per url (a cleaned snapshot).
    # doc_kg_combined requires one row per url.
    dedup_mode: str = "latest"
    # partitioning floor for Python-heavy stages (None -> 2x cores); see
    # operators/graph.py on why AQE byte-coalescing must not size these
    python_parallelism: int | None = None
    # observe the extraction counts (textprep.resolve_text) in the JVM;
    # PipelineResult.metrics then holds the Observation
    collect_metrics: bool = False

    def __post_init__(self):
        if self.dedup_mode not in ("latest", "skip"):
            raise ValueError(
                f"dedup_mode must be 'latest' or 'skip', not {self.dedup_mode!r}"
            )


@dataclass
class PipelineResult:
    docs: DataFrame
    # views of the combined stage; with fused_rejoin the doc pass emits
    # no sentence/evidence rows (those views are None), and mentions is
    # set only when canonicalize is on
    mentions: DataFrame | None
    sentences: DataFrame | None
    evidence: DataFrame | None
    subrels: DataFrame | None
    pairs: DataFrame
    canon_map: DataFrame | None
    triples: DataFrame
    # extraction counts (docs_in, from_html, provided_text, empty_text):
    # `.get` blocks until the first action over docs has run
    metrics: Observation | None = None


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


def _kinds(config: PipelineConfig) -> tuple[int, ...]:
    """The row kinds the doc pass emits (see PipelineConfig.fused_rejoin)."""
    if not config.fused_rejoin:
        return graph.ALL_KINDS
    return (graph.MENTION, graph.PAIR) if config.canonicalize else (graph.PAIR,)


def _combined_views(kinds: tuple[int, ...]):
    def views(combined: DataFrame) -> dict[str, DataFrame]:
        out = {"pairs": graph.pairs_from_combined(combined)}
        if graph.MENTION in kinds:
            out["mentions"] = graph.mentions_from_combined(combined)
        if graph.SENTENCE in kinds:
            out["sentences"] = graph.sentences_from_combined(combined)
        if graph.EVIDENCE in kinds:
            out["evidence"] = graph.evidence_from_combined(combined)
            out["subrels"] = T.subrels_from_evidence(out["evidence"])
        return out

    return views


def _stages(
    pages: DataFrame,
    gazetteer: DataFrame,
    pred_rules: DataFrame,
    config: PipelineConfig,
    observation: Observation | None = None,
) -> list[Stage]:
    """The KG stage list for `config`, in build order (module docstring)."""
    width = config.python_parallelism or (
        pages.sparkSession.sparkContext.defaultParallelism * 2
    )
    kinds = _kinds(config)

    def docs(_):
        # Extract FIRST (map-only, html never shuffles), THEN dedup latest
        # per url on text rows — at web scale html is 5-20x the text, so
        # this keeps the wide shuffle small at the cost of extracting the
        # few % duplicate crawls.
        pre = textprep.filter_pages(pages, config.lang)
        resolved = textprep.resolve_text(pre, observation=observation)
        if config.dedup_mode == "skip":
            # the dedup's repartition doubled as the Python-stage width
            # pin; without it, only top up when the source is
            # under-partitioned (pre-partitioned sources keep the true
            # zero-shuffle path)
            if resolved.rdd.getNumPartitions() < width:
                return resolved.repartition(width)
            return resolved
        return textprep.dedup_latest_text(resolved, num_partitions=width)

    stages = [
        Stage("docs", docs, ("config",), persist=True),
        # ONE Python crossing and ZERO shuffles from docs to triple pairs;
        # persisted in the plain runner because the views, ER and the
        # support aggregation all read it
        Stage("combined", lambda f: graph.doc_kg_combined(
            f["docs"], gazetteer, list(config.pred_vocab), config.pivot_type,
            list(config.arg_slots), pred_rules,
            max_path_len=config.max_path_len,
            co_mention_edges=config.co_mention_edges,
            token_window=config.token_window,
            kinds=kinds,
        ), ("docs", "gazetteer", "rules"), persist=True,
            views=_combined_views(kinds)),
    ]
    canon = ("canon",) if config.canonicalize else ()
    if config.canonicalize:
        # the mention rows depend on docs and gazetteer alone, so a rules
        # edit keeps the canonical map
        stages.append(Stage("canon", lambda f: er.canonical_map(
            f["mentions"].select("surface_norm")
        ), ("docs", "gazetteer")))
    stages.append(Stage("triples", lambda f: T.pairs_to_triples(
        f["pairs"], f.get("canon"),
    ), ("combined", *canon)))
    return stages


def _add(frames: dict, stage: Stage, df: DataFrame) -> None:
    frames[stage.name] = df
    if stage.views is not None:
        frames.update(stage.views(df))


def _result(frames: dict, metrics: Observation | None = None) -> PipelineResult:
    return PipelineResult(
        docs=frames["docs"],
        mentions=frames.get("mentions"),
        sentences=frames.get("sentences"),
        evidence=frames.get("evidence"),
        subrels=frames.get("subrels"),
        pairs=frames["pairs"],
        canon_map=frames.get("canon"),
        triples=frames["triples"],
        metrics=metrics,
    )


def run_pipeline(
    pages: DataFrame,
    gazetteer: DataFrame,
    pred_rules: DataFrame,
    config: PipelineConfig = PipelineConfig(),
) -> PipelineResult:
    """Build every stage of _stages in order; docs and combined
    are persisted (each feeds several consumers)."""
    metrics = Observation() if config.collect_metrics else None
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
    scan for unusually large sides.

    collect_metrics is rejected: a skipped docs stage would never fire the
    observation, and the stage manifests already hold each stage's rows."""
    if config.collect_metrics:
        raise ValueError(
            "collect_metrics is not supported with checkpointing; "
            "read the stage manifests' n_rows instead"
        )
    from .checkpoint import StageCheckpointer, content_fingerprint, fingerprint

    ck = StageCheckpointer(pages.sparkSession, ckpt_root)
    fps = {
        "config": fingerprint(corpus_fp, repr(config)),
        "gazetteer": gaz_fp or content_fingerprint(gazetteer),
        "rules": rules_fp or content_fingerprint(pred_rules),
    }
    frames: dict[str, DataFrame] = {}
    for stage in _stages(pages, gazetteer, pred_rules, config):
        df, fps[stage.name] = ck.run_stage(
            stage.name,
            fingerprint(*(fps[p] for p in stage.parents)),
            partial(stage.build, frames),
        )
        _add(frames, stage, df)
    return _result(frames), ck
