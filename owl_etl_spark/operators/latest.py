"""Latest-version-per-key dedup and SCD2 history (SURVEY.md W1/F4/S10).

The reference keeps only the most recent fact sheet per fund
(``(nombre_fic, url)`` key, ``fecha_corte`` recency; older incoming
versions dropped — src/etl/load.py:99-219). The canonical distributed
form is a single window dedup — no driver loops, no per-row lookups.

Scale notes: the window shuffles once on the key — same cost as the
groupBy a MERGE would need. For skewed keys AQE skew-join handles the
union-side; the window itself partitions by key so a pathological
single hot key would need salting + a two-level max (not needed for
fund-sized keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    recency_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keep the most recent row per key (W1).

    ``recency_col`` compares with plain column ordering — for the
    reference's ISO-string dates that is the same lexicographic
    comparison it performs (src/etl/load.py:107). Nulls sort last
    (a null recency never wins over a dated row, matching F4's
    null-date carve-out as closely as batch semantics allow).
    ``tiebreak`` makes the result deterministic when recencies tie.
    """
    order = [F.col(recency_col).desc_nulls_last()] + [
        F.col(c).desc() for c in (tiebreak or [])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_history(
    df: DataFrame,
    keys: list[str],
    version_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history: every version kept,
    with a validity interval instead of the reference's delete-and-
    replace (src/etl/load.py:154-219 keeps only the newest; this is
    the auditable generalization — ``latest_per_key`` == the
    ``is_current`` slice of this output).

    ``valid_from`` = the row's own version value; ``valid_to`` = the
    NEXT version's value per key (open/null for the newest);
    ``is_current`` marks the open row. One window shuffle on the
    key, identical cost to the W1 dedup — history costs nothing extra
    at 100 TB until storage, where partitioning on ``is_current``
    (or date-bucketed ``valid_to``) keeps the hot current slice
    pruned.
    """
    order = [F.col(version_col).asc_nulls_first()] + [
        F.col(c).asc() for c in (tiebreak or [])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(version_col).over(w)
    return (
        df.withColumn("valid_from", F.col(version_col))
        .withColumn("valid_to", nxt)
        .withColumn("is_current", F.col("valid_to").isNull())
    )
