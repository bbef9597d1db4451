"""Robust multi-format date parsing (SURVEY.md §2.2 P8).

The reference normalizes Spanish-language, multi-format date strings
to ISO ``YYYY-MM-DD`` text via regex patterns + a strptime fallback
chain (reference: src/etl/transform.py:805-934). Here the whole thing
is one ``coalesce`` chain of native expressions — no UDF — so it runs
inside codegen and is trivially vectorizable at 100 TB.

Parse precedence (must match the reference's order, since formats are
ambiguous — e.g. ``%d/%m/%Y`` is tried before ``%m/%d/%Y``):
1. Spanish month-name patterns: ``mes-año``, ``día-mes-año`` (sep
   ``-``, ``/``, or space; 2-digit year → 20yy; month-only → day 01)
2. numeric ``dd/mm/yyyy`` then ``mm/dd/yyyy`` (and ``-`` variants)
3. ISO ``yyyy-mm-dd``
4. ``yyyy/mm/dd``
Dates with year < 1990 are rejected (src/etl/transform.py:929).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from owl_etl_spark.functions.text import _sql, sql_str

#: Spanish month abbreviations/names → month number
#: (reference: src/etl/transform.py:818-830).
SPANISH_MONTHS = {
    "enero": 1, "ene": 1,
    "febrero": 2, "feb": 2,
    "marzo": 3, "mar": 3,
    "abril": 4, "abr": 4,
    "mayo": 5, "may": 5,
    "junio": 6, "jun": 6,
    "julio": 7, "jul": 7,
    "agosto": 8, "ago": 8,
    "septiembre": 9, "sep": 9, "sept": 9,
    "octubre": 10, "oct": 10,
    "noviembre": 11, "nov": 11,
    "diciembre": 12, "dic": 12,
}


_SEPARATORS = r"[/\s]+"
_MONTH_YY = r"^(\d{1,2})-(\d{2})$"
_DAY_MONTH_YY = r"^(\d{1,2})-(\d{1,2})-(\d{2})$"
_DIGIT_RUNS = r"^\d+(-\d+)*$"


def _month_pattern(month: int) -> str:
    """One alternation regex for every spelling of ``month``, longest
    first so 'sept' is tried before 'sep'."""
    names = sorted((n for n, m in SPANISH_MONTHS.items() if m == month), key=len, reverse=True)
    return rf"\b({'|'.join(names)})\b"


def fecha_normalizada_sql(text_sql: str) -> str:
    """SQL text of the parse chain's input: lowercased, trimmed, each
    Spanish month spelling mapped to its zero-padded number (one regex
    per month, 12 in all), separators unified to '-'.

    A month name is a whole word between word boundaries and each is
    replaced by digits, which are word characters too, so the order of
    the 12 replacements cannot change the result.
    """
    out = f"lower(trim({text_sql}))"
    for month in sorted(set(SPANISH_MONTHS.values())):
        out = f"regexp_replace({out}, {sql_str(_month_pattern(month))}, '{month:02d}')"
    return f"regexp_replace({out}, {sql_str(_SEPARATORS)}, '-')"


def parse_fecha_normalizada_sql(norm_sql: str) -> str:
    """SQL text of the ``coalesce`` of ``try_to_date`` attempts over a
    string already normalized by :func:`fecha_normalizada_sql`, in the
    reference's precedence order; a year before 1990 rejects an attempt
    (src/etl/transform.py:929).

    Only runs of digits joined by single dashes reach ``try_to_date``:
    Spark reads ``yyyy`` as a signed year and throws ``long overflow``
    on one like ``1-1--300000`` instead of returning null.
    """
    # 2-digit trailing year -> 20yy for the mm-yy / dd-mm-yy shapes.
    s2 = f"regexp_replace({norm_sql}, {sql_str(_MONTH_YY)}, '$1-20$2')"
    s3 = f"regexp_replace({norm_sql}, {sql_str(_DAY_MONTH_YY)}, '$1-$2-20$3')"

    def t(src: str, fmt: str) -> str:
        d = f"try_to_date({src}, '{fmt}')"
        return f"CASE WHEN year({d}) >= 1990 THEN {d} END"

    return f"CASE WHEN {norm_sql} RLIKE {sql_str(_DIGIT_RUNS)} THEN coalesce(" + ", ".join([
        # month-year -> first of month (reference pattern 1/3)
        t(f"concat('01-', {s2})", "dd-M-yyyy"),
        # day-month-year (reference pattern 2/4, day-first before month-first)
        t(s3, "d-M-yyyy"),
        t(s3, "M-d-yyyy"),
        # ISO and slashed ISO (separators already unified)
        t(norm_sql, "yyyy-M-d"),
        # year-month -> first of month
        t(f"concat({norm_sql}, '-01')", "yyyy-M-dd"),
    ]) + ") END"


def parse_fecha_robusta(col: Column) -> Column:
    """Multi-format date string → ``DateType`` (null if unparseable).

    Spanish-month normalization, then a ``coalesce`` of ``try_to_date``
    attempts in the reference's precedence order. The normalized string
    is spelled once per attempt here; a plan that parses many rows of
    one column can normalize it in its own projection first and hand
    :func:`parse_fecha_normalizada_sql` the column, as the FIC pipeline
    does. ``col`` is spliced as SQL text (see ``functions.text._sql``).
    """
    return F.expr(parse_fecha_normalizada_sql(fecha_normalizada_sql(_sql(col))))


def parse_fecha_robusta_iso(col: Column) -> Column:
    """P8 with the reference's output convention: ISO string, not DATE
    (dates are stored as strings and compared lexicographically —
    src/config/db.py:55, src/etl/load.py:107)."""
    return F.date_format(parse_fecha_robusta(col), "yyyy-MM-dd")


def business_days_between(start: Column, end: Column) -> Column:
    """Weekday (Mon-Fri) count in the half-open interval
    ``[start, end)`` — the SLA/aging arithmetic behind
    "how many working days old is this order". Negative when
    ``end < start`` (the reversed interval, negated); null if either
    side is null. No calendar table, no UDF, no sequence-explode:
    pure integer arithmetic on epoch days, so it composes into any
    aggregate at fact-table scale.

    Closed form: with e = days-since-1970-01-01 (a Thursday),
    g(e) = weekdays in [1970-01-01, day e) = (e div 7)·5 + W[pmod(e,7)]
    where W = [0,1,2,2,2,3,4] walks Thu,Fri,Sat,Sun,Mon,Tue,Wed;
    answer = g(end) − g(start). Floor-div + pmod keep pre-1970 dates
    exact too. (Holidays are locale policy — join a holiday dim and
    subtract; this function is the invariant weekday core.)
    """
    epoch = F.lit("1970-01-01").cast("date")

    def g(d: Column) -> Column:
        e = F.datediff(d.cast("date"), epoch).cast("long")
        wk = F.pmod(e, F.lit(7))
        # W[r] for r = 0..6 = 0,1,2,2,2,3,4
        w = (
            F.when(wk == 0, 0)
            .when(wk == 1, 1)
            .when(wk.isin(2, 3, 4), 2)
            .when(wk == 5, 3)
            .otherwise(4)
        )
        return ((e - F.pmod(e, F.lit(7))) / 7).cast("long") * 5 + w

    return (g(end) - g(start)).cast("long")
