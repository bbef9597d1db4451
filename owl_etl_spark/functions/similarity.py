"""Similarity measures: edit-distance ratios, LCS (difflib-parity),
array Jaccard, embedding cosine/dot.

The reference's fuzzy matching uses two custom scores (SURVEY.md §2.4
J1/J2): a longest-common-substring ratio ``2·lcs/(len1+len2)``
(src/etl/transform.py:328-355) and ``difflib.get_close_matches``
(ratio ≥ cutoff). ``levenshtein()`` is the built-in approximation;
the exact scores are provided as vectorized Pandas UDFs for parity
(Arrow-batched — acceptable because fuzzy joins run against tiny
broadcast dimensions, never against the fact table).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """1 - levenshtein/max_len — built-in, codegen-friendly fuzzy score."""
    max_len = F.greatest(F.length(a), F.length(b))
    return F.when(max_len == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(a, b) / max_len
    )


@pandas_udf(DoubleType())
def lcs_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    """Longest-common-substring ratio ``2·lcs/(len_a+len_b)`` —
    bit-parity with the reference scorer (src/etl/transform.py:328-355).
    Vectorized over Arrow batches; O(len_a·len_b) per pair, so only
    use on broadcast-sized candidate sets.
    """

    def one(x: str | None, y: str | None) -> float:
        if not x or not y:
            return 0.0
        x, y = x.lower(), y.lower()
        m, n = len(x), len(y)
        prev = [0] * (n + 1)
        best = 0
        for i in range(1, m + 1):
            cur = [0] * (n + 1)
            xi = x[i - 1]
            for j in range(1, n + 1):
                if xi == y[j - 1]:
                    cur[j] = prev[j - 1] + 1
                    if cur[j] > best:
                        best = cur[j]
            prev = cur
        return 2.0 * best / (m + n)

    return pd.Series([one(x, y) for x, y in zip(a, b)])


@pandas_udf(DoubleType())
def difflib_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    """``difflib.SequenceMatcher.ratio`` — exact parity with the
    reference's ``get_close_matches`` cutoff semantics
    (src/etl/transform.py:712-733)."""
    from difflib import SequenceMatcher

    return pd.Series(
        [
            SequenceMatcher(None, (x or "").lower(), (y or "").lower()).ratio()
            for x, y in zip(a, b)
        ]
    )


def _to_double_array(col_sql: str) -> str:
    return f"transform({col_sql}, v -> CAST(v AS DOUBLE))"


def norm_sql(a_sql: str) -> Column:
    a = _to_double_array(a_sql)
    return F.expr(f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v))")


def cosine_sql(a_sql: str, b_sql: str) -> Column:
    """Cosine similarity of two numeric array columns (double math)."""
    a, b = _to_double_array(a_sql), _to_double_array(b_sql)
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    na = f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v))"
    nb = f"sqrt(aggregate({b}, 0D, (acc, v) -> acc + v * v))"
    return F.expr(f"CASE WHEN {na} = 0D OR {nb} = 0D THEN 0D ELSE ({dot}) / ({na} * {nb}) END")
