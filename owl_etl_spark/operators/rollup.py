"""Incremental aggregate maintenance: keep gold rollups fresh by
merging each new partition's *partial* aggregates instead of
rescanning history.

The reference reloads whole documents on arrival (delete-and-replace,
src/etl/load.py:111-132); at 100 TB a monthly drop must not recompute
the all-time rollup. Algebraic aggregates (count/sum/min/max, and
avg = sum/count derived at read time) merge exactly: partials per
(keys) from the new partition union with the stored state and
re-aggregate — cost is O(|new| + |state|), independent of history
size. Pair with ``operators.sketches`` for mergeable distinct counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: merge rule per metric suffix: how two partial values combine.
_MERGE = {
    "cnt": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


def partial_agg(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Partial state for one batch/partition: count, sum (integer-cents
    for cross-run exactness), min, max of ``value_col`` per key."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(cents).cast("long").alias("sum"),
        F.min(cents).cast("long").alias("min"),
        F.max(cents).cast("long").alias("max"),
    )


def merge_partial_aggs(state: DataFrame, new_partials: DataFrame, keys: list[str]) -> DataFrame:
    """Fold a new batch's partials into the stored state. Exact for
    algebraic metrics — merged state is bit-identical to a full
    recompute (integer domain), in any merge order."""
    return (
        state.unionByName(new_partials)
        .groupBy(*keys)
        .agg(*[rule(c).cast("long").alias(c) for c, rule in _MERGE.items()])
    )


def finalize(df: DataFrame) -> DataFrame:
    """Reader-facing view of the state: back to domain units with the
    derived mean (never stored — avg is not algebraic; sum/count is)."""
    return df.select(
        *[c for c in df.columns if c not in _MERGE],
        F.col("cnt").alias("n"),
        (F.col("sum").cast("double") / 100).alias("total"),
        (F.col("min").cast("double") / 100).alias("minimum"),
        (F.col("max").cast("double") / 100).alias("maximum"),
        F.round(F.col("sum").cast("double") / F.col("cnt") / 100, 6).alias("mean"),
    )


def join_view_delta(
    old_left: DataFrame,
    new_left: DataFrame,
    old_right: DataFrame,
    new_right: DataFrame,
    on: list[str],
) -> DataFrame:
    """Incremental maintenance of an inner-join materialized view:
    given a batch of new rows on each side, the view's DELTA is

        ΔV = (newL ⋈ oldR) ∪ (oldL ⋈ newR) ∪ (newL ⋈ newR)

    — the classic delta rule: appending ΔV to the stored view yields
    exactly ``(oldL ∪ newL) ⋈ (oldR ∪ newR)`` without rejoining
    history against history (the quadratic term a monthly drop must
    never pay at 100 TB). The three delta joins each have a NEW side
    that is batch-sized; when the batch is dimension-small Spark
    broadcasts it and the only scans of history are one pass per
    delta term — and if the stored sides are bucketed on ``on``,
    even those co-locate without a shuffle. Equality is EXACT (bag
    semantics): union of disjoint match classes, no dedup needed."""
    return (
        new_left.join(old_right, on)
        .unionByName(old_left.join(new_right, on))
        .unionByName(new_left.join(new_right, on))
    )


def join_view_merge(
    view: DataFrame,
    old_left: DataFrame,
    new_left: DataFrame,
    old_right: DataFrame,
    new_right: DataFrame,
    on: list[str],
) -> DataFrame:
    """Stored view + delta = the maintained view (see
    :func:`join_view_delta`); the caller persists the result as the
    next state (or appends the delta to a partitioned sink)."""
    return view.unionByName(
        join_view_delta(old_left, new_left, old_right, new_right, on)
    )
