"""Gap-based sessionization over an event stream (batch form).

Not in the reference (it has no streaming surface — SURVEY.md §2.10);
included as a first-class engine operator because event sessionization
is the canonical window-function workload. Streaming form:
``streaming.windows.session_counts`` uses ``session_window`` with a
watermark.

Scale notes: one shuffle on the user key; the per-user sort is
bounded by per-user event counts. Skewed users (bots) are the classic
hazard — mitigate by pre-filtering on a per-user count threshold or
salting the heavy hitters into sub-sessions and re-merging.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _epoch_seconds(df: DataFrame, ts_col: str) -> Column:
    """Floor epoch seconds for TIMESTAMP or TIMESTAMP_NTZ columns.

    NTZ has no epoch cast; ``timestampdiff`` against the NTZ epoch is
    timezone-independent (matching UTC-naive engines' ``epoch_us //
    1e6``). Plain TIMESTAMP keeps the direct cast.
    """
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
        )
    return F.col(ts_col).cast("long")


def sessionize(df: DataFrame) -> DataFrame:
    """Assign session ids: a new session starts when the gap since the
    user's previous event exceeds 1800 s (30 minutes).

    lag → gap flag → running sum = the standard two-window formulation;
    both windows share the same partitioning so Spark plans a single
    shuffle + sort.
    """
    by_user = Window.partitionBy("user_id").orderBy("ts")
    sec = _epoch_seconds(df, "ts")
    prev_sec = F.lag(sec).over(by_user)
    is_new = F.when(prev_sec.isNull() | (sec - prev_sec > 1800), 1).otherwise(0)
    return df.withColumn("__new_session", is_new).withColumn(
        "session_id",
        F.sum("__new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("__new_session")


def session_stats(df: DataFrame) -> DataFrame:
    """Sessionize + per-session aggregates (events, span, start/end)."""
    s = sessionize(df)
    sec = _epoch_seconds(s, "ts")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(sec) - F.min(sec)).alias("duration_sec"),
    )
