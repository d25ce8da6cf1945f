"""N-ary decomposition -> binary sub-relations -> (subj, pred, obj) triples.

The north star's core relational shape:
- DECOMPOSE: each candidate n-ary instance (pivot p; args a, b) is held ONLY
  as its binary sub-relations (p, a) and (p, b) — rows in `subrels`.
- REJOIN: sub-relations sharing (url, pivot mention, pred) are equi-joined
  back together (Catalyst picks SMJ/SHJ; AQE may demote/split), matched
  against a broadcast rule table, and emit triples.

All joins are DataFrame equi-joins on (url, pivot_mid[, pred]) — the same
key the evidence stage already shuffled by, so at scale these reuse one
partitioning; the rule table and canon map are broadcast (small sides).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import broadcast

TRIPLES_COLS = ("subj", "pred", "obj", "support")


def subrels_from_evidence(enriched: DataFrame) -> DataFrame:
    """Binary sub-relations from the FUSED evidence (graph.doc_graph_subrels
    output, EVIDENCE_SUBREL_SCHEMA): the decomposition is a filter+project —
    the graph stage already resolved surfaces and the pivot-sentence
    predicate, so no joins are needed here. Same output schema/rows as
    binary_subrels."""
    return enriched.filter(F.col("pred").isNotNull()).select(
        "url",
        "pivot_mid",
        "pivot_norm",
        "other_mid",
        "other_norm",
        "slot",
        "pred",
        F.concat_ws("#", F.col("pred"), F.col("slot")).alias("subrel"),
        "path_len",
    )


def binary_subrels(
    evidence: DataFrame, mentions: DataFrame, sentences: DataFrame
) -> DataFrame:
    """evidence x mentions x sentences -> one row per accepted binary
    sub-relation: (url, pivot_mid, pivot_norm, other_mid, other_norm, slot,
    pred, subrel, path_len).

    The sub-relation label is pred#slot where pred is the pred-vocab token
    NEAREST the PIVOT mention's token span within its sentence (ties ->
    earliest token) — the SQL twin of kernels.nearest_pred, computed
    JVM-side with zip_with + array_min over struct(dist, tok, pred)
    (structs order field-wise, so the min is argmin by (dist, tok)). Pairs
    whose pivot sentence has no predicate token are dropped (no relation
    signal).
    """
    piv = mentions.select(
        F.col("url").alias("p_url"),
        F.col("mention_id").alias("p_mid"),
        F.col("surface_norm").alias("pivot_norm"),
        F.col("sent_id").alias("pivot_sent"),
        F.col("tok_begin").alias("p_tb"),
        F.col("tok_end").alias("p_te"),
    )
    oth = mentions.select(
        F.col("url").alias("o_url"),
        F.col("mention_id").alias("o_mid"),
        F.col("surface_norm").alias("other_norm"),
    )
    sent = sentences.select(
        F.col("url").alias("s_url"),
        F.col("sent_id").alias("s_sent"),
        F.col("preds"),
        F.col("pred_toks"),
    ).filter(F.size("preds") > 0)

    nearest = F.array_min(
        F.zip_with(
            "preds",
            "pred_toks",
            lambda p, t: F.struct(
                F.greatest(
                    F.col("p_tb") - t, t - F.col("p_te") + 1, F.lit(0)
                ).alias("d"),
                t.alias("t"),
                p.alias("p"),
            ),
        )
    )["p"]

    return (
        evidence
        .join(piv, (F.col("url") == F.col("p_url")) & (F.col("pivot_mid") == F.col("p_mid")))
        .join(oth, (F.col("url") == F.col("o_url")) & (F.col("other_mid") == F.col("o_mid")))
        .join(sent, (F.col("url") == F.col("s_url")) & (F.col("pivot_sent") == F.col("s_sent")))
        .withColumn("pred", nearest)
        .select(
            "url",
            "pivot_mid",
            "pivot_norm",
            "other_mid",
            "other_norm",
            "slot",
            "pred",
            F.concat_ws("#", F.col("pred"), F.col("slot")).alias("subrel"),
            "path_len",
        )
    )


def new_triples(current: DataFrame, previous: DataFrame) -> DataFrame:
    """Incremental-run diff: triples in `current` whose (subj, pred, obj)
    key is absent from the `previous` snapshot — LEFT ANTI join, so the
    big current side streams against the (typically much smaller, often
    broadcastable) previous key set and nothing is recomputed. Support
    values come from the current run (a key that existed before is dropped
    entirely; support-growth deltas are the delta-table pattern in
    streaming/kg_stream.py instead)."""
    prev_keys = previous.select("subj", "pred", "obj")
    return current.join(prev_keys, ["subj", "pred", "obj"], "left_anti")


def _canonicalize_and_support(
    pairs: DataFrame, canon_map: DataFrame | None, url_level: bool = False
) -> DataFrame:
    """(url, subj_norm, pred, obj_norm) -> (subj, pred, obj, support):
    canonical labels via broadcast map, then skew-safe support counting for
    hot triples (popular entities at web scale): phase 1 dedups
    (triple, url) — the shuffle key includes url, so a hot triple's rows
    spread across reducers exactly like a salted key; phase 2 counts per
    triple with map-side partial aggregation (each partition contributes at
    most one partial row per triple).

    url_level=True stops after phase 1 and returns the DISTINCT
    (subj, pred, obj, url) evidence pairs instead of aggregating — the
    provenance table; summing later with countDistinct(url) reproduces
    support exactly, which is what the streaming delta path needs to
    canonicalize at merge time without double counting a url whose alias
    surfaces collapse onto one canonical triple."""
    if canon_map is not None:
        cm_s = broadcast(canon_map.select(
            F.col("surface_norm").alias("subj_norm"), F.col("canonical").alias("subj_canon")))
        cm_o = broadcast(canon_map.select(
            F.col("surface_norm").alias("obj_norm"), F.col("canonical").alias("obj_canon")))
        pairs = (
            pairs.join(cm_s, "subj_norm", "left")
            .join(cm_o, "obj_norm", "left")
            .select(
                "url",
                F.coalesce("subj_canon", "subj_norm").alias("subj_norm"),
                "pred",
                F.coalesce("obj_canon", "obj_norm").alias("obj_norm"),
            )
        )
    distinct_pairs = pairs.select(
        F.col("subj_norm").alias("subj"),
        F.col("pred"),
        F.col("obj_norm").alias("obj"),
        "url",
    ).distinct()
    if url_level:
        return distinct_pairs
    return distinct_pairs.groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("support")
    )


def rejoin_nary(
    subrels: DataFrame,
    slot_rules: DataFrame,
    slots: list[str],
    canon_map: DataFrame | None = None,
    url_level: bool = False,
) -> DataFrame:
    """GENERALIZED binary -> n-ary rejoin for arity n = len(slots) + 1
    (pivot + one entity per slot); the 3-ary rejoin_triples below is the
    binary-rule-table specialization kept for compatibility.

    An n-ary instance at (url, pivot_mid, pred) is any combination of one
    accepted sub-relation per slot. The k slot frames are chain-equi-joined
    on (url, pivot_mid, pred) — the SAME key the evidence stage already
    shuffled by, so the k-1 joins reuse one partitioning end to end.
    slot_rules(slot, pred, pred_out) is broadcast into each frame; inner
    joins mean an instance is accepted only when EVERY slot's sentence
    predicate has a rule. Each accepted instance emits one triple per slot:
    (pivot_norm, pred_out_slot, other_norm_slot).
    """
    assert len(slots) >= 1
    # every slot frame filters the SAME subrels — truncate its lineage once
    # or the (Python-heavy) upstream chain recomputes k times, once per side
    subrels = subrels.localCheckpoint(eager=False)
    frames = []
    for s in slots:
        rules_s = broadcast(
            slot_rules.filter(F.col("slot") == s).select(
                "pred", F.col("pred_out").alias(f"pred_out_{s}")
            )
        )
        base = subrels.filter(F.col("slot") == s)
        cols = ["url", "pivot_mid", "pred", F.col("other_norm").alias(f"norm_{s}")]
        if not frames:  # pivot_norm carried once (identical across slots)
            cols.insert(2, F.col("pivot_norm"))
        frames.append(base.select(*cols).join(rules_s, "pred"))

    joined = frames[0]
    for f in frames[1:]:
        joined = joined.join(f, ["url", "pivot_mid", "pred"])

    pairs = joined.select(
        "url",
        F.explode(
            F.array(*[
                F.struct(
                    F.col("pivot_norm").alias("subj_norm"),
                    F.col(f"pred_out_{s}").alias("pred"),
                    F.col(f"norm_{s}").alias("obj_norm"),
                )
                for s in slots
            ])
        ).alias("t"),
    ).select("url", "t.subj_norm", "t.pred", "t.obj_norm")
    return _canonicalize_and_support(pairs, canon_map, url_level)


def pairs_to_triples(
    pairs: DataFrame,
    canon_map: DataFrame | None = None,
    url_level: bool = False,
) -> DataFrame:
    """Finish the FULLY-fused pipeline (graph.doc_kg_pairs): canonical
    labels via broadcast map + skew-safe support counting. The fused UDF
    already emitted per-doc-distinct pairs, so the corpus-level distinct
    here only reconciles duplicates that canonicalization introduces (or
    none) — map-side partial aggregation makes it one light shuffle, the
    pipeline's ONLY one."""
    pairs = pairs.select(
        "url", "subj_norm", F.col("pred"), "obj_norm"
    )
    return _canonicalize_and_support(pairs, canon_map, url_level)


def rejoin_triples(
    subrels: DataFrame,
    pred_rules: DataFrame,
    canon_map: DataFrame | None = None,
    url_level: bool = False,
) -> DataFrame:
    """Rejoin slot-a and slot-b sub-relations on (url, pivot_mid, pred),
    match the broadcast rule table (subrel_a, subrel_b -> pred_a, pred_b),
    emit both triples of each accepted n-ary instance, canonicalize entity
    labels, and aggregate support = distinct source urls.
    """
    # the a and b sides filter the SAME subrels — truncate its lineage once
    # or the (Python-heavy) upstream chain recomputes twice, once per side
    subrels = subrels.localCheckpoint(eager=False)
    a = subrels.filter(F.col("slot") == "a").select(
        "url", "pivot_mid", "pivot_norm", "pred",
        F.col("other_norm").alias("a_norm"),
        F.col("subrel").alias("subrel_a"),
    )
    b = subrels.filter(F.col("slot") == "b").select(
        F.col("url").alias("b_url"),
        F.col("pivot_mid").alias("b_pivot_mid"),
        F.col("pred").alias("b_pred"),
        F.col("other_norm").alias("b_norm"),
        F.col("subrel").alias("subrel_b"),
    )
    joined = (
        a.join(
            b,
            (F.col("url") == F.col("b_url"))
            & (F.col("pivot_mid") == F.col("b_pivot_mid"))
            & (F.col("pred") == F.col("b_pred")),
        )
        .join(broadcast(pred_rules), ["subrel_a", "subrel_b"])
    )
    pairs = joined.select(
        "url",
        F.explode(
            F.array(
                F.struct(
                    F.col("pivot_norm").alias("subj_norm"),
                    F.col("pred_a").alias("pred"),
                    F.col("a_norm").alias("obj_norm"),
                ),
                F.struct(
                    F.col("pivot_norm").alias("subj_norm"),
                    F.col("pred_b").alias("pred"),
                    F.col("b_norm").alias("obj_norm"),
                ),
            )
        ).alias("t"),
    ).select("url", "t.subj_norm", "t.pred", "t.obj_norm")

    return _canonicalize_and_support(pairs, canon_map, url_level)
