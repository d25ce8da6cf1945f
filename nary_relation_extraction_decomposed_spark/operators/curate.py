"""Corpus curation: the training-data composite over the engine's own
operators — quality gate -> exact dedup -> MinHash near-dup clustering ->
deterministic stratified sampling.

Every stage is deterministic (re-running yields the identical corpus, the
property that makes a 100 TB curation run auditable and resumable):

1. quality gate   — quality_score_col >= min_quality (NULL, so dropped,
                    for null text); pure scan-side filter, zero shuffle.
2. exact dedup    — min-id survivor per md5(text) group (the same rule as
                    operators/dedup.exact_dedup), applied as an ANTI-join
                    on the DROPPED ids: the (id, md5) proxy rows decide the
                    drop set and only those ids cross a shuffle — the full
                    text column never does (r7; the previous semi-join on
                    the KEPT ids shuffled every surviving (id, text) row,
                    the funnel's dominant DRAM bytes in the 4->16-core
                    ledger). For a mostly-unique corpus the dropped side is
                    tiny and broadcasts.
3. near-dup drop  — MinHash-LSH candidate pairs (capped buckets, skew
                    guard), VERIFIED against the signatures (estimated
                    jaccard = fraction of agreeing minhashes >=
                    verify_threshold; ADVICE r6: at 16 bands x 4 rows a
                    ~0.3-jaccard pair band-collides with ~12% probability,
                    and unverified false positives transitively merged
                    dissimilar documents into clusters whose non-reps were
                    all deleted) -> connected components over the verified
                    pair graph -> keep each cluster's min-id
                    representative. Clustering (not pairwise greedy) makes
                    the survivor set order-independent: A~B, B~C keeps
                    exactly min(A,B,C) even though A and C never pair
                    directly.
4. sampling       — deterministic md5-threshold per-stratum rates
                    (operators/sampling); partition-invariant and NESTED,
                    so raising a rate later only adds documents.

Returns the curated DataFrame plus each stage's frame so callers can
count/inspect lazily (the CLI prints a per-stage funnel).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.text_metrics import quality_score_col
from .connected_components import connected_components
from .dedup import minhash_pairs_from_sigs, minhash_signatures_wide
from .sampling import sample_stratified
from .similarity import _widen_if_narrow

# minhash geometry of the funnel's near-dup stage — identical to
# dedup.minhash_dup_candidates' defaults (16 bands x 4 rows = 64 perms)
_BANDS, _ROWS = 16, 4


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "lang",
    min_quality: float = 0.0,
    rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    salt: str = "curate",
    shingle_n: int = 3,
    verify_threshold: float | None = 0.5,
) -> dict[str, DataFrame]:
    """Run the 4-stage funnel; returns {'quality', 'exact', 'neardup',
    'sampled'} — each the surviving corpus after that stage ('sampled' is
    the final curated output).

    verify_threshold: minimum estimated jaccard (fraction of agreeing
    minhash values, an unbiased estimator of the true shingle jaccard) for
    an LSH candidate pair to enter the clustering. None restores the
    unverified pre-r7 behavior (every band collision clusters)."""
    # a single-split corpus scan would run the regex quality gate — and
    # everything after it — on ONE core (the round-6 AQE/under-partition
    # starvation pattern); widen up front, keyed by id
    docs = _widen_if_narrow(docs, id_col)
    # quality feeds the dedup-proxy build and the drop anti-join; exact
    # feeds the MinHash stage and the near-dup anti-join — each is
    # lineage-truncated so one action executes the regex gate and the
    # dedup chain once, not once per downstream reference (measured 2x
    # wall on the 80k-doc scaling probe before truncation)
    # quality_score_col(NULL) is NULL, so the gate drops null-text docs
    quality = docs.filter(
        quality_score_col(F.col(text_col)) >= F.lit(min_quality)
    ).localCheckpoint(eager=False)

    # Exact dedup on the (id, md5) PROXY rows (guide §8: decide with small
    # rows, move big rows never): group min-id per content hash, derive
    # the DROPPED ids, anti-join them back. The text column crosses no
    # exchange — the previous left_semi on the kept ids shuffled every
    # surviving (id, text) row by id. Same survivor rule as
    # dedup.exact_dedup: min(id) per md5 group. Relies on the quality gate
    # having dropped every null-text row: md5(NULL) never matches the
    # inner join, so a null-text doc reaching here would skip the min-id
    # rule and every such doc would survive (pinned by
    # tests/test_curate.py::test_null_text_never_survives).
    hashes = quality.select(F.col(id_col), F.md5(F.col(text_col)).alias("_md5"))
    keep = hashes.groupBy("_md5").agg(F.min(id_col).alias("_keep"))
    dropped_exact = (
        hashes.join(keep, "_md5")
        .filter(F.col(id_col) != F.col("_keep"))
        .select(id_col)
    )
    exact = quality.join(dropped_exact, on=id_col, how="left_anti").localCheckpoint(
        eager=False
    )

    # the anti-join output would be AQE-coalesced to one partition, which
    # would single-thread the shingle-explode + 64-agg MinHash stage — the
    # same starvation shape er.py fixed in round 6; the explicit exchange
    # is AQE-exempt and id-clustered. Signatures are computed ONCE and
    # lineage-truncated: pair generation AND verification both read them.
    sigs = minhash_signatures_wide(
        _widen_if_narrow(
            exact.select(F.col(id_col).alias("id"), F.col(text_col).alias("t")),
            "id",
        ),
        "id",
        F.col("t"),
        shingle_n,
        num_perms=_BANDS * _ROWS,
    ).localCheckpoint(eager=False)
    pairs = minhash_pairs_from_sigs(sigs, bands=_BANDS, rows=_ROWS)
    if verify_threshold is not None:
        sig_arr = sigs.select(
            F.col("id"),
            F.array(*[F.col(f"h{i}") for i in range(_BANDS * _ROWS)]).alias("_sig"),
        )
        est = F.size(
            F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda z: z)
        ) / F.lit(_BANDS * _ROWS)
        pairs = (
            pairs.join(
                sig_arr.select(F.col("id").alias("id_a"), F.col("_sig").alias("_sa")),
                "id_a",
            )
            .join(
                sig_arr.select(F.col("id").alias("id_b"), F.col("_sig").alias("_sb")),
                "id_b",
            )
            .filter(est >= F.lit(verify_threshold))
            .select("id_a", "id_b")
        )
    comps = connected_components(pairs, src="id_a", dst="id_b")
    # every clustered doc that is NOT its cluster's min-label rep drops;
    # docs in no pair never appear in comps and survive
    drops = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    neardup = exact.join(drops, on=id_col, how="left_anti")

    sampled = sample_stratified(
        neardup,
        key=F.col(id_col),
        stratum=F.col(stratum_col),
        rates=rates or {},
        default_rate=default_rate,
        salt=salt,
    )
    return {
        "quality": quality,
        "exact": exact,
        "neardup": neardup,
        "sampled": sampled,
    }
