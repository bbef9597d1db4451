"""Numeric normalization expressions (SURVEY.md §2.2 P4-P7).

All are SQL expression text — JVM-side, codegen-friendly, no UDFs —
so they compose inside higher-order lambdas (reachable only via
``F.expr``/``selectExpr``) and build a plan in one py4j call each.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from owl_etl_spark.functions.text import _sql, sql_str

_NOT_NUMERIC = r"[^\d.\-]"


def parse_numero_sql(text_sql: str) -> str:
    """Lenient string→double parse (P7), as SQL text over the
    expression ``text_sql``.

    Strips everything but digits, dot, minus; comma decimal → dot;
    null on failure (reference: src/etl/transform.py:787-802 uses
    ``float()`` with exception→None; ``try_cast`` is the declarative
    equivalent).

    Values that already cast cleanly pass through untouched — the
    regex path must only see true strings, because a double rendered
    as ``2.3E13`` would have its exponent marker stripped.

    INTENTIONAL DIVERGENCE from the reference: ``"1,5"`` parses here
    as 1.5 (comma = Spanish decimal separator). The reference strips
    commas BEFORE its ``replace(',', '.')`` can act
    (src/etl/transform.py:787-802), so it yields 15.0 — a locale bug
    this engine does not reproduce. Golden parity is unaffected (the
    fixtures carry no comma-decimal numerics).
    """
    return (
        f"coalesce(try_cast({text_sql} AS DOUBLE), try_cast(regexp_replace("
        f"translate(CAST({text_sql} AS STRING), ',', '.'), {sql_str(_NOT_NUMERIC)}, '') AS DOUBLE))"
    )


def descale_monetary_sql(text_sql: str, max_iters: int) -> str:
    """Monetary de-scaling with exact while-loop semantics (P4), as SQL
    text over the expression ``text_sql``.

    The reference repeatedly divides by 1000 while the value exceeds
    1e6, then rounds to 2 dp (src/etl/transform.py:70-86) — result in
    (1000, 1e6] for inputs > 1e6. A bounded CASE unrolls the loop
    deterministically (``max_iters`` of 10 covers values up to 1e36);
    each step is the same IEEE double division the reference performs,
    so results are bit-identical — unlike a log10-based closed form,
    which can disagree on boundaries. The literals are doubles
    (``1000.0D``): a bare ``1000.0`` in SQL text is DECIMAL.

    A naive nested ``CASE WHEN v > 1e6`` chain triples the expression
    tree per iteration (3^max_iters nodes — measured codegen blowup);
    instead, one CASE picks the first k for which k repeated divisions
    land ≤ 1e6, with each candidate spelled as the same exact division
    sequence — O(max_iters²) tiny tree, identical IEEE results.
    """
    candidates = [f"CAST({text_sql} AS DOUBLE)"]
    for _ in range(max_iters):
        candidates.append(f"({candidates[-1]} / 1000.0D)")
    whens = " ".join(f"WHEN {c} <= 1000000.0D THEN {c}" for c in candidates[:max_iters])
    return f"round(CASE {whens} ELSE {candidates[max_iters]} END, 2)"


def descale_monetary(col: Column, max_iters: int) -> Column:
    """:func:`descale_monetary_sql` over ``col``, spliced as SQL text
    (see ``functions.text._sql``)."""
    return F.expr(descale_monetary_sql(_sql(col), max_iters))


def parse_percent_sql(path: str) -> str:
    """Percent parse as SQL text, for use inside higher-order lambdas.
    Clean casts pass through directly — the reference's numeric
    branch, and the only safe path for scientific notation ("5e-05"),
    whose exponent marker the regex would strip. The regex clean (keep
    digits/dot/comma/minus/%, comma→dot, drop %) is the string branch
    (reference: src/etl/transform.py:569-605)."""
    return (
        f"coalesce(try_cast({path} AS DOUBLE), "
        f"try_cast(replace(translate(regexp_replace(CAST({path} AS STRING), "
        f"'[^0-9.,%-]', ''), ',', '.'), '%', '') AS DOUBLE))"
    )


def parsed_participation_sql(arr_sql: str, key_field: str) -> str:
    """Lenient-parse every ``participacion`` in a participation array
    (string → double via :func:`parse_percent_sql`), preserving the
    array-of-struct shape. Composes in front of
    :func:`smart_percent_array_sql` so string percents like
    ``"66,96%"`` survive the typed read (the raw schema keeps
    participacion as STRING for exactly this reason — see
    schemas._part_array)."""
    return (
        f"transform({arr_sql}, x -> named_struct("
        f"'{key_field}', x.{key_field}, "
        f"'participacion', {parse_percent_sql('x.participacion')}))"
    )


def _format_vote_sql(arr_sql: str) -> str:
    """SQL CASE classifying an array's percentage format (P5 vote,
    reference: src/etl/transform.py:534-566): 'x100' (66.96-style →
    /100), 'frac' (0.6696-style → keep), or 'unknown'. Majority range
    vote first, then the sum heuristic (90-110 → x100, 0.9-1.1 → frac).
    """
    nonnull = f"filter({arr_sql}, x -> x.participacion IS NOT NULL)"
    total = f"size({nonnull})"
    s = f"aggregate({nonnull}, 0D, (a, x) -> a + x.participacion)"
    gt1 = f"size(filter({nonnull}, x -> x.participacion > 1.0D))"
    return f"""CASE
        WHEN {total} = 0 THEN 'unknown'
        WHEN {gt1} * 2 > {total} AND {s} BETWEEN 90.0D AND 110.0D THEN 'x100'
        WHEN ({total} - {gt1}) * 2 > {total} AND {s} BETWEEN 0.9D AND 1.1D THEN 'frac'
        WHEN {s} BETWEEN 90.0D AND 110.0D THEN 'x100'
        WHEN {s} BETWEEN 0.9D AND 1.1D THEN 'frac'
        ELSE 'unknown' END"""


def convert_if_needed_sql(path: str) -> str:
    """Return/volatility normalization (P6) as SQL text, for composition
    inside higher-order lambdas: values with |v| > 1 are percentages →
    divide by 100; always round to 6 (reference:
    src/etl/transform.py:631-658)."""
    v = f"CAST({path} AS DOUBLE)"
    return (
        f"CASE WHEN abs({v}) > 1.0D THEN round({v} / 100.0D, 6) "
        f"ELSE round({v}, 6) END"
    )


def smart_percent_array_sql(arr_sql: str, key_field: str) -> str:
    """Two-pass percentage normalization over an array of structs (P5),
    as SQL text.

    Pass 1 (intra-row ``aggregate``): sum + count of >1 values; pass 2
    (intra-row ``transform``): convert each element per the detected
    format. Mirrors the reference's per-category two-pass
    (src/etl/transform.py:426-605) with zero shuffle — each category
    is one array inside one row. ``arr_sql`` is the SQL of an
    ``array<struct{<key_field>: string, participacion: double}>``;
    the result has the same shape, participacion normalized to
    fractional scale and rounded to 6.

    The 'unknown' vote falls back to PER-VALUE conversion, exactly like
    the reference's ``_convertir_porcentaje_individual``
    (src/etl/transform.py:608-628): values in [0.9, 1.1] kept, in
    [90, 110] or > 1.1 divided by 100, else kept.

    The format vote (an O(n) aggregate over the array) is bound ONCE
    per row via an outer single-element ``transform`` lambda — naming
    it ``__fmt`` and referencing the lambda variable inside the
    per-element CASE. Inlining the vote into the element lambda would
    re-evaluate it per element (O(n²) per row) — the same lambda
    re-evaluation hazard fixed in ``dedup.with_minhash``; a temp
    column is no defense either, since CollapseProject inlines it
    straight back into each use site.
    """
    fmt = _format_vote_sql(arr_sql)
    v = "x.participacion"
    individual = f"""CASE
        WHEN abs({v}) BETWEEN 0.9D AND 1.1D THEN round({v}, 6)
        WHEN abs({v}) BETWEEN 90.0D AND 110.0D THEN round({v} / 100.0D, 6)
        WHEN abs({v}) > 1.1D THEN round({v} / 100.0D, 6)
        ELSE round({v}, 6) END"""
    return f"""element_at(transform(array({fmt}), __fmt ->
              transform({arr_sql}, x -> named_struct(
              '{key_field}', x.{key_field},
              'participacion',
              CASE WHEN {v} IS NULL THEN CAST(NULL AS DOUBLE)
                   WHEN __fmt = 'x100' THEN round({v} / 100.0D, 6)
                   WHEN __fmt = 'frac' THEN round({v}, 6)
                   ELSE ({individual}) END))), 1)"""
