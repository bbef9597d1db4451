"""Sinks (SURVEY.md §2.1 S8-S14): the skip-list sink, the gold snapshot
writer, a range-clustered parquet writer and the JDBC load.

The reference writes one pretty-printed JSON file per document into
``data/json_raw_<year>_<month>/`` folders and upserts per-document
into Postgres. Distributed form: columnar snapshot writes for gold
tables and one JDBC batch write per table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_skip_list(df: DataFrame, stem_col, path: str) -> None:
    """S12: quarantine sink — one file-stem per line, header comment,
    consumable by sources.read_skip_list. Coalesced to 1 file (skip
    lists are tiny by construction)."""
    (
        df.select(F.col(stem_col).cast("string").alias("value"))
        .distinct()
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def write_gold_snapshot(tables: dict[str, DataFrame], base_path: str, mode: str = "overwrite") -> None:
    """S10: write all gold tables from one silver snapshot.

    Plain parquet overwrite = full-refresh semantics. For incremental
    loads, dedup the union with the previous snapshot through
    ``operators.latest.latest_per_key`` before writing (Delta MERGE
    being the managed-table equivalent); cross-table atomicity is
    documented as weaker than the reference's per-document transaction
    (SURVEY.md §7.4) — idempotent reruns from the same snapshot
    converge.
    """
    for name, df in tables.items():
        df.write.mode(mode).parquet(f"{base_path}/{name}")


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """Postgres-parity sink (S10 exact-target variant, reference
    src/etl/load.py:76-151): ``df.write.jdbc`` with batch sizing
    options (pass ``batchsize=`` to size the executor-side INSERT
    batches — the knob that matters at scale). Exercised E2E against
    Spark's bundled embedded Derby engine (tests/test_jdbc_roundtrip.py:
    round-trip, append/overwrite SaveModes, the recency-merge gold-table
    flow, batched multi-thousand-row writes); a deployment swaps only
    the URL/driver for Postgres."""
    df.write.mode(mode).options(**options).jdbc(url, table)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    target_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partition by ``sort_cols`` then sort within partitions
    before writing: rows with nearby keys land in the same files, so
    parquet min/max statistics make later point/range scans on those
    keys prune whole files (poor man's clustering/Z-order for the
    single-key case). At 100 TB this is the difference between a
    needle lookup touching ~1 file and touching all of them."""
    out = df.repartitionByRange(*sort_cols) if target_partitions is None else (
        df.repartitionByRange(target_partitions, *sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


