"""Text-normalization SPEC — the single place these rules are defined.

Both the distributed operators (Spark SQL expressions / Arrow UDF kernels)
and the fixture golden simulator import from here, so a rule change cannot
silently diverge between pipeline and goldens.

Rules (frozen; see tests/test_kernels.py for the SQL<->Python agreement test):
- normalize_surface: casefold to lowercase, every non-[a-z0-9] char becomes a
  space, runs of spaces collapse, strip.
- compact_form: normalize_surface with spaces removed (the key insight for
  deterministic entity resolution: alias variants that differ only in case /
  punctuation / spacing share one compact form, so their shingle sets are
  identical and MinHash-LSH recall is exact, not probabilistic).
- shingles: character 3-grams of '^' + compact + '$' (padding distinguishes
  prefixes/suffixes of short names).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column

_RE_NON_ALNUM = re.compile(r"[^a-z0-9]+")

SHINGLE_K = 3
JACCARD_THRESHOLD = 0.5  # ER verify: exact shingle-jaccard >= this => same entity
MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = 4  # MINHASH_PERMS == LSH_BANDS * LSH_ROWS


def normalize_surface(s: str) -> str:
    return _RE_NON_ALNUM.sub(" ", s.lower()).strip()


def compact_form(s: str) -> str:
    return normalize_surface(s).replace(" ", "")


def shingles(s: str, k: int = SHINGLE_K) -> list[str]:
    padded = "^" + compact_form(s) + "$"
    if len(padded) <= k:
        return [padded]
    return sorted({padded[i : i + k] for i in range(len(padded) - k + 1)})


# ---- Spark-SQL twins (JVM-side, used in hot paths; must agree with the
# ---- Python functions above — asserted in tests) ----

def normalize_surface_col(c: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def compact_form_col(c: Column) -> Column:
    return F.regexp_replace(normalize_surface_col(c), " ", "")


def shingles_col(c: Column, k: int = SHINGLE_K) -> Column:
    """Distinct sorted k-shingles of '^'+compact+'$' as array<string> —
    pure Spark SQL higher-order functions, no UDF."""

    def grams(padded: Column) -> Column:
        n = F.greatest(F.length(padded) - (k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n), lambda i: F.substr(padded, i, F.lit(k))
        )

    # lambdas run interpreted, without subexpression elimination: a lambda
    # that referenced the padded column itself would rerun its regexes once
    # per shingle. Binding it once as the variable of an outer one-element
    # transform keeps the column at one normalization per string.
    padded = F.concat(F.lit("^"), compact_form_col(c), F.lit("$"))
    return F.array_sort(F.array_distinct(
        F.element_at(F.transform(F.array(padded), grams), 1)
    ))
