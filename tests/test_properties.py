"""Property-based tests (Hypothesis): the Column-expression
implementations must agree with straight-Python reference
implementations of the reference's quirky scalar semantics, over
randomized inputs.

Each test collects one batch of examples and runs ONE Spark job over
them (per-example Spark jobs would be seconds each).
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F


def _py_descale(v: float | None, max_iters: int = 10) -> float | None:
    """The reference's while-loop (src/etl/transform.py:70-86 semantics)."""
    if v is None:
        return None
    x = float(v)
    for _ in range(max_iters):
        if x > 1_000_000.0:
            x /= 1000.0
        else:
            break
    return round(x, 2)


def _py_percent_vote(values: list[float]) -> str:
    nonnull = [v for v in values if v is not None]
    total = len(nonnull)
    if total == 0:
        return "unknown"
    s = sum(nonnull)
    gt1 = sum(1 for v in nonnull if v > 1.0)
    if gt1 * 2 > total and 90.0 <= s <= 110.0:
        return "x100"
    if (total - gt1) * 2 > total and 0.9 <= s <= 1.1:
        return "frac"
    if 90.0 <= s <= 110.0:
        return "x100"
    if 0.9 <= s <= 1.1:
        return "frac"
    return "unknown"


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(
                min_value=-1e30, max_value=1e30, allow_nan=False, allow_infinity=False
            ),
        ),
        min_size=50,
        max_size=50,
    )
)
def test_descale_matches_python_loop(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, v double")
    from owl_etl_spark.functions.numeric import descale_monetary

    got = {r.i: r.d for r in df.select("i", descale_monetary(F.col("v"), 10).alias("d")).collect()}
    for i, v in enumerate(values):
        expected = _py_descale(v)
        g = got[i]
        if expected is None:
            assert g is None
        else:
            assert g is not None and math.isclose(g, expected, rel_tol=0, abs_tol=0), (
                f"v={v}: spark={g} python={expected}"
            )


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.one_of(
                st.none(),
                st.floats(min_value=-5, max_value=120, allow_nan=False),
            ),
            min_size=0,
            max_size=8,
        ),
        min_size=30,
        max_size=30,
    )
)
def test_percent_vote_matches_python(spark, arrays):
    rows = [
        (i, [{"k": str(j), "participacion": v} for j, v in enumerate(arr)])
        for i, arr in enumerate(arrays)
    ]
    df = spark.createDataFrame(
        rows, "i int, arr array<struct<k: string, participacion: double>>"
    )
    from owl_etl_spark.functions.numeric import _format_vote_sql

    got = {r.i: r.fmt for r in df.select("i", F.expr(_format_vote_sql("arr")).alias("fmt")).collect()}
    for i, arr in enumerate(arrays):
        assert got[i] == _py_percent_vote(arr), f"arr={arr}"


def _py_parse_fecha(s: str | None) -> str | None:
    """Reference-precedence parser mirror (SURVEY.md P8, as implemented):
    normalized Spanish months, separators to '-', 2-digit year -> 20yy,
    try mes-año, d-m-y, m-d-y, ISO, y-m; reject year < 1990."""
    import datetime
    import re

    if s is None:
        return None
    months = {
        "enero": 1, "ene": 1, "febrero": 2, "feb": 2, "marzo": 3, "mar": 3,
        "abril": 4, "abr": 4, "mayo": 5, "may": 5, "junio": 6, "jun": 6,
        "julio": 7, "jul": 7, "agosto": 8, "ago": 8, "septiembre": 9,
        "sept": 9, "sep": 9, "octubre": 10, "oct": 10, "noviembre": 11,
        "nov": 11, "diciembre": 12, "dic": 12,
    }
    t = s.lower().strip()
    for name in sorted(months, key=len, reverse=True):
        t = re.sub(rf"\b{name}\b", f"{months[name]:02d}", t)
    t = re.sub(r"[/\s]+", "-", t)
    t2 = re.sub(r"^(\d{1,2})-(\d{2})$", r"\1-20\2", t)
    t3 = re.sub(r"^(\d{1,2})-(\d{1,2})-(\d{2})$", r"\1-\2-20\3", t)

    def try_build(y, m, d):
        try:
            dt = datetime.date(int(y), int(m), int(d))
            return dt.isoformat() if dt.year >= 1990 else None
        except ValueError:
            return None

    m = re.fullmatch(r"(\d{1,2})-(\d{4})", t2)
    if m and try_build(m.group(2), m.group(1), 1):
        return try_build(m.group(2), m.group(1), 1)
    m = re.fullmatch(r"(\d{1,2})-(\d{1,2})-(\d{4})", t3)
    if m:
        r = try_build(m.group(3), m.group(2), m.group(1))  # d-m-y first
        if r:
            return r
        r = try_build(m.group(3), m.group(1), m.group(2))  # then m-d-y
        if r:
            return r
    m = re.fullmatch(r"(\d{4})-(\d{1,2})-(\d{1,2})", t)
    if m and try_build(m.group(1), m.group(2), m.group(3)):
        return try_build(m.group(1), m.group(2), m.group(3))
    m = re.fullmatch(r"(\d{4})-(\d{1,2})", t)
    if m:
        return try_build(m.group(1), m.group(2), 1)
    return None


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.dates(min_value=__import__("datetime").date(1985, 1, 1)).map(
                lambda d: d.strftime("%d/%m/%Y")
            ),
            st.dates(min_value=__import__("datetime").date(1990, 1, 1)).map(
                lambda d: d.strftime("%Y-%m-%d")
            ),
            st.dates().map(lambda d: f"{['ene','feb','mar','abr','may','jun','jul','ago','sep','oct','nov','dic'][d.month-1]}-{d.strftime('%y')}"),
            st.text(alphabet="0123456789-/abc ", max_size=12),
            st.none(),
        ),
        min_size=40,
        max_size=40,
    )
)
def test_date_parse_matches_python(spark, values):
    from owl_etl_spark.functions.dates import parse_fecha_robusta_iso

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, v string")
    got = {r.i: r.d for r in df.select("i", parse_fecha_robusta_iso(F.col("v")).alias("d")).collect()}
    for i, v in enumerate(values):
        assert got[i] == _py_parse_fecha(v), f"input={v!r}: spark={got[i]} python={_py_parse_fecha(v)}"
