"""Data-quality operators: anti-filters, validity splits, structure
repair, sum invariants (SURVEY.md F1/F3/P10/V*).

The reference's defensive repairs and validations become declarative
operators: a skip-list is a broadcast anti-join, a validity check is a
predicate split with both branches returned, repairs are ``coalesce``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.schemas import COMPOSICION_CATEGORIES
from owl_etl_spark.session import seal


def anti_filter(df: DataFrame, skiplist: DataFrame, df_col: str, skip_col: str) -> DataFrame:
    """Drop rows whose ``df_col`` appears in the skip list (F1).

    The reference checks membership per file in a Python set
    (src/scripts/script_load.py:36-44); distributed form is a
    broadcast left-anti join — the skip list is always tiny.
    """
    return df.join(
        F.broadcast(skiplist.select(F.col(skip_col).alias("__skip"))),
        on=df[df_col] == F.col("__skip"),
        how="left_anti",
    )


def split_by_predicate(df: DataFrame, predicate: Column) -> tuple[DataFrame, DataFrame]:
    """(valid, invalid) split — F3's date-consistency gate generalizes
    to any predicate; the invalid branch feeds the skip-list sink
    (reference: src/scripts/script_transform.py:81-114, 270-293).
    Rows where the predicate is null go to ``invalid``.

    The input is sealed once (``session.seal``) before it is filtered,
    so the split costs one run of the input plan and both branches read
    that materialization. Unsealed, every consumer re-runs the whole
    upstream — on the FIC load that is the PDF extraction and the
    transform once for the store drop's range sampling, once for its
    write and once more for the skip list.
    """
    sealed = seal(df)
    return sealed.filter(predicate), sealed.filter(~predicate | predicate.isNull())


def date_folder_consistency(fecha_corte_iso: Column, anio: Column, mes: Column) -> Column:
    """F3: folder-derived (year, month) must equal fecha_corte's, with
    null on either side passing (reference:
    src/scripts/script_transform.py:81-114)."""
    y = F.substring(fecha_corte_iso, 1, 4).cast("int")
    m = F.substring(fecha_corte_iso, 6, 2).cast("int")
    fy, fm = anio.cast("int"), mes.cast("int")
    return (
        y.isNull() | fy.isNull() | ((y == fy) & (m == fm))
    )


def repair_structure(df: DataFrame) -> DataFrame:
    """P10: backfill absent lists/structs on the FIC document
    (reference: src/etl/transform.py:755-784) — pure ``coalesce``, one
    ``withColumns``.
    """
    types = dict(df.dtypes)
    fills = {
        c: f"coalesce({c}, CAST(array() AS {types[c]}))"
        for c in ("plazo_duracion", "principales_inversiones", "rentabilidad_volatilidad")
        if c in types
    }
    if "composicion_portafolio" in types:
        fields = ", ".join(
            f"'{name}', coalesce(composicion_portafolio.{name}, "
            f"CAST(array() AS array<struct<{key}: string, participacion: double>>))"
            for name, key in COMPOSICION_CATEGORIES.items()
        )
        fills["composicion_portafolio"] = f"named_struct({fields})"
    return df.withColumns({c: F.expr(sql) for c, sql in fills.items()})


