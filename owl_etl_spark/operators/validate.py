"""Declarative data-quality constraints (Deequ-style) — the
"expectations" layer an ETL engine needs before loading gold tables.

Each check compiles to DataFrame aggregates, so the whole report is a
handful of jobs regardless of table size:

- row-level checks (not-null / range / regex) fold into ONE aggregate
  pass over the table (a sum of violation indicators per check);
- uniqueness is one groupBy on the key counting surplus rows;
- referential integrity is one left-anti join against the parent key
  set (broadcast when the parent is dimension-sized).

The report is a tiny (one row per constraint) DataFrame — suitable for
asserting in CI, appending to a run-history table, or gating a write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_check(name: str, violation: Column) -> tuple[str, Column]:
    """A named row-level check; ``violation`` is a boolean Column that
    is true when the ROW VIOLATES the constraint."""
    return (name, violation)


def not_null(col: str) -> tuple[str, Column]:
    return row_check(f"not_null:{col}", F.col(col).isNull())


def in_range(col: str, lo, hi) -> tuple[str, Column]:
    return row_check(
        f"in_range:{col}", ~F.col(col).between(F.lit(lo), F.lit(hi)) | F.col(col).isNull()
    )


def constraint_report(
    df: DataFrame,
    row_checks: list[tuple[str, Column]] | None = None,
    unique_keys: list[list[str]] | None = None,
    foreign_keys: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Evaluate constraints; return (constraint, n_violations) rows.

    - ``row_checks``: from :func:`row_check` / :func:`not_null` /
      :func:`in_range` — all evaluated in a single
      aggregate pass.
    - ``unique_keys``: each key list counts rows beyond the first per
      key value (0 = unique).
    - ``foreign_keys``: (child_col, parent_df, parent_col) — counts
      child rows (nulls excluded) whose key is absent from the parent.
    """
    spark = df.sparkSession
    reports: list[DataFrame] = []
    if row_checks:
        aggs = [
            F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias(name)
            for name, viol in row_checks
        ]
        wide = df.agg(*aggs)
        stack = ", ".join(f"'{name}', `{name}`" for name, _ in row_checks)
        reports.append(
            wide.selectExpr(
                f"stack({len(row_checks)}, {stack}) AS (constraint, n_violations)"
            )
        )
    for keys in unique_keys or []:
        name = "unique:" + ",".join(keys)
        reports.append(
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(
                F.lit(name).alias("constraint"),
                F.sum(F.col("__n") - 1).cast("long").alias("n_violations"),
            )
        )
    for child_col, parent_df, parent_col in foreign_keys or []:
        name = f"foreign_key:{child_col}"
        orphans = (
            df.filter(F.col(child_col).isNotNull())
            .select(child_col)
            .join(
                parent_df.select(F.col(parent_col).alias(child_col)).distinct(),
                child_col,
                "left_anti",
            )
        )
        reports.append(
            orphans.agg(
                F.lit(name).alias("constraint"),
                F.count(F.lit(1)).cast("long").alias("n_violations"),
            )
        )
    if not reports:
        from owl_etl_spark.session import literal_frame

        return literal_frame(spark, [], "constraint string, n_violations long")
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def fk_orphan_report(
    relations: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit over many FK relationships at once:
    for each ``(label, child_df, child_col, parent_df, parent_col)``,
    one row ``(relation, n_child, n_orphans, orphan_micro)`` counting
    child rows whose key has no parent (NULL child keys count as
    orphans — an unset FK is a missing reference, and anti-join
    semantics would otherwise silently bless them).

    The warehouse onboarding question ("can I trust these joins?")
    answered without assuming constraints the storage layer never
    enforced. Each relation is ONE left join against the parent's
    distinct keys (Spark broadcasts small dimension key sets and
    falls back to a shuffled join honestly when not) feeding one
    two-counter aggregate; the relations stay LAZY and union into a
    single plan — no per-relation driver actions, the whole audit is
    one job.
    """
    if not relations:
        raise ValueError("fk_orphan_report: need at least one relation")
    frames = []
    for label, child, child_col, parent, parent_col in relations:
        keys = parent.select(F.col(parent_col).alias("__pk")).where(
            F.col(parent_col).isNotNull()
        ).distinct()
        joined = child.select(F.col(child_col).alias("__ck")).join(
            keys, F.col("__ck") == F.col("__pk"), "left"
        )
        frames.append(
            joined.agg(
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            ).select(F.lit(label).alias("relation"), "n_child", "n_orphans")
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out.select(
        "relation",
        "n_child",
        "n_orphans",
        F.expr(
            "CASE WHEN n_child > 0 THEN n_orphans * 1000000 div n_child END"
        ).alias("orphan_micro"),
    )
