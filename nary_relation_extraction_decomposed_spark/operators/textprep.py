"""Page preparation: language filter, latest-per-url dedup, text resolution.

Scale notes:
- filter_pages runs BEFORE any UDF so Catalyst pushes lang/null predicates
  into the parquet/Iceberg scan (UDFs are pushdown barriers).
- dedup_latest_text picks the latest row per url with a deterministic
  max(struct) — dropDuplicates picks an arbitrary row per key and would
  break run-to-run determinism.
- resolve_text is the only stage that touches the (huge, binary) html column;
  its output drops html immediately so every downstream shuffle moves text
  only (column pruning at the source reads html just for this stage). Only
  text-null rows cross into Python, and its optional extraction counts are
  a JVM-side observation of the same plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from ..extract.html import extract_text

RESOLVED_SCHEMA = "url string, warc_ts timestamp, text string"


def filter_pages(pages: DataFrame, lang: str = "en") -> DataFrame:
    """Keep rows in `lang` that can yield text (text or html present)."""
    return pages.filter(
        (F.col("lang") == lang)
        & (F.col("text").isNotNull() | F.col("html").isNotNull())
    )


def dedup_latest_text(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Latest-per-url dedup AFTER extraction, on (url, warc_ts, text) rows.

    Preferred at scale: extraction is a map-only stage (no shuffle), so
    running it first means the url shuffle moves extracted TEXT rather than
    raw html (5-20x smaller on real web pages) at the cost of extracting
    the ~ few % duplicate crawls too. Tie-break: warc_ts desc, then longer
    text, then lexicographically larger text — deterministic.

    Physical shape (r7): max(struct(warc_ts, length(text), text)) per url
    instead of the row_number window. Struct ordering is field-wise with
    null fields smallest, which matches desc/desc_nulls_last exactly, and
    a full tie on all three fields means the texts are equal — so the
    surviving row is IDENTICAL (pinned by an A/B exceptAll on the bench
    corpus). Two wins over the window: no per-partition sort, and partial
    (map-side) aggregation collapses a url's duplicate crawls BEFORE the
    exchange — the window shape ships every replica's full text through
    the shuffle (guide: aggregate before you shuffle).

    Payload columns (any beyond url, warc_ts, text) ride in the max()
    struct, so they must be of orderable types (no maps); their names may
    contain dots."""
    if num_partitions:
        docs = docs.repartition(num_partitions, "url")
    # any non-key payload columns ride in the struct AFTER the three
    # ordering fields: they only influence the pick on a full ordering tie
    # (equal texts), where the window's pick was sort-stability-dependent —
    # the struct max is deterministic there too. Payload names are quoted
    # and fetched with getField: a dotted name is one column, not a path.
    extra = [c for c in docs.columns if c not in ("url", "warc_ts", "text")]
    best = F.max(
        F.struct(
            F.col("warc_ts"),
            F.length(F.col("text")).alias("_len"),
            F.col("text"),
            *[F.col(f"`{c}`") for c in extra],
        )
    ).alias("_b")
    out = docs.groupBy("url").agg(best).select(
        "url", "_b.warc_ts", "_b.text",
        *[F.col("_b").getField(c).alias(c) for c in extra],
    )
    return out.select(*[F.col(f"`{c}`") for c in docs.columns])


def resolve_text(pages: DataFrame, observation: Observation | None = None) -> DataFrame:
    """(url, warc_ts, html, text, ...) -> (url, warc_ts, text) where text =
    provided text if non-null else the frozen extractor over html.

    Rows that already CARRY text never cross the Python boundary: they are
    a pure JVM projection unioned with the extractor branch, which sees
    only the text-null rows and only their (url, warc_ts, html). The
    extractor is mapInPandas (Arrow batches) because the extraction kernel
    is the byte-identity invariant holder, so it must be the in-repo
    frozen Python. When `text` is a literal NULL, Catalyst folds the
    provided-text branch away, so no second scan survives. Row ORDER
    across the union is unspecified; every consumer (latest-per-url dedup,
    groupBys, the oracle's order-insensitive compare) is order-independent.

    With `observation`, the union is observed in the JVM: docs_in,
    from_html, provided_text and empty_text (null or ''), readable through
    `observation.get` once the first action over the output has run.
    """
    with_text = pages.filter(F.col("text").isNotNull()).select(
        "url", "warc_ts", "text", F.lit(True).alias("_provided")
    )
    need = pages.filter(F.col("text").isNull()).select("url", "warc_ts", "html")

    def extract_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "text": [extract_text(h) for h in pdf["html"]],
                }
            )

    extracted = need.mapInPandas(extract_batches, schema=RESOLVED_SCHEMA)
    out = with_text.unionByName(extracted.withColumn("_provided", F.lit(False)))
    if observation is not None:
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("docs_in"),
            F.count_if(~F.col("_provided")).alias("from_html"),
            F.count_if(F.col("_provided")).alias("provided_text"),
            F.count_if(
                F.col("text").isNull() | (F.col("text") == "")
            ).alias("empty_text"),
        )
    return out.drop("_provided")
