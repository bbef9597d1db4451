"""Interval algebra per key: union/coverage of overlapping spans and
FIFO stream matching — two classically "procedural" operations
re-expressed as exact windowed arithmetic.

- ``interval_union_length`` — merge overlapping/touching spans into
  islands and measure covered time: uptime/SLA coverage, deduped
  listening time, effective session span. The island trick: after a
  total (start, end, id) order, a span starts a NEW island iff its
  start exceeds the running max end of everything before it; the
  island id is then a running sum of those flags. Two windows, one
  key shuffle, exact integers.

- ``fifo_allocate`` — match two ordered streams (buys→sells, supply→
  demand, produced→consumed) under first-in-first-out and emit per-
  pair allocated quantities: FIFO cost basis, inventory aging, queue
  accounting. The usually-imperative matching loop is EXACTLY the
  overlap of cumulative-quantity intervals: buy i owns units
  (cumB_(i-1), cumB_i] of the key's supply line, sell j consumes
  (cumS_(j-1), cumS_j], and FIFO allocates their intersection —
  ``max(0, min(hiB, hiS) − max(loB, loS))``. The pair join is an
  equi-join on the key plus a range predicate on unit intervals;
  because both interval chains are consecutive, each buy overlaps
  amortized O(1) sells, so matched pairs number ≤ n_buys + n_sells
  per key — never the cross product.

Both operators take integer units (whole seconds, whole quantities)
and produce exact BIGINTs — order-independent, oracle-replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_union_length(
    df: DataFrame,
    keys: list[str],
    start_col: str,
    end_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per key: ``n_intervals``, ``n_islands`` (merged groups —
    overlapping OR touching spans coalesce), ``covered`` (total union
    length, Σ island (max end − min start)). Zero/negative-length
    spans count as points: they join islands but add no length.
    """
    from pyspark.sql import Window

    order = [F.col(start_col).asc(), F.col(end_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = F.col(start_col).cast("long")
    e = F.col(end_col).cast("long")
    work = (
        df.withColumn("__pmax", F.max(e).over(w_prev))
        .withColumn(
            "__new",
            F.when(F.col("__pmax").isNull() | (s > F.col("__pmax")), 1).otherwise(0),
        )
        .withColumn("__island", F.sum("__new").over(w_run))
    )
    islands = work.groupBy(*keys, "__island").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.min(s).alias("__lo"),
        F.max(e).alias("__hi"),
    )
    return islands.groupBy(*keys).agg(
        F.sum("__n").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.greatest(F.col("__hi") - F.col("__lo"), F.lit(0)))
        .cast("long")
        .alias("covered"),
    )


def fifo_allocate(
    buys: DataFrame,
    sells: DataFrame,
    keys: list[str],
    id_col: str,
    qty_col: str,
    order_col: str,
    bucket_units: int | None = None,
) -> DataFrame:
    """FIFO matching of two per-key ordered streams. Returns one row
    per (buy, sell) pair with a POSITIVE allocation:
    ``(keys..., buy_id, sell_id, qty_allocated)`` — Σ per sell equals
    its quantity while supply lasts; surplus buys/sells simply stop
    appearing (compute shortfalls from the sums). Quantities must be
    positive integers (enforced contract of the cumulative identity:
    a zero/negative quantity would create an empty or inverted unit
    interval).

    Join shape — why the bucketing: a bare equi-join on the key plus
    the overlap predicate would materialize each key's FULL buy×sell
    cross product before filtering (the q29 hot-key death at scale:
    one part with 10^6 fills per side is 10^12 candidate pairs in one
    task). Instead both interval chains bucket by UNIT RANGE — an
    interval joins every bucket of ``bucket_units`` cumulative units
    it touches — and the join key is (keys, bucket). Each pair is
    emitted exactly once WITHOUT a distinct: only the bucket that owns
    the intersection's first unit (``greatest(lo_b, lo_s) div B``)
    counts it. Per (key, bucket) each side holds at most
    ``B/min_qty + 1`` intervals, so per-task candidate fan-out is
    capped by a CONSTANT of the operator, not by key popularity —
    the same bounded-expansion contract as the LSH chunk guards, built
    in by construction.

    Choosing ``bucket_units`` (B): the explode emits one row per
    bucket an interval TOUCHES, i.e. per-row fan-out ≈ qty/B + 1 and
    total exploded rows ≈ Σqty/B — so B must SCALE WITH the typical
    quantity magnitude (B=256 against 10^9-unit orders would explode a
    single row into ~4M). The default ``bucket_units=None`` therefore
    derives B from the data as the mean quantity across both sides
    (one tiny aggregate, a driver round-trip like ``cutpoints``):
    mean-sized buckets make the average interval touch ~2 buckets
    while a bucket holds O(1) intervals of each side. B is PLAN-SIDE
    ONLY — the ownership rule emits each pair exactly once for any B,
    so results are identical whatever value is picked (pinned by
    test); pass an explicit int to skip the derivation job.
    """
    from pyspark.sql import Window

    if bucket_units is None:
        both = buys.select(F.col(qty_col).cast("long").alias("__q")).unionByName(
            sells.select(F.col(qty_col).cast("long").alias("__q"))
        )
        row = both.agg(
            F.sum("__q").alias("s"), F.count(F.lit(1)).alias("c")
        ).collect()[0]
        # integer mean (div) keeps the derivation engine-deterministic
        has_data = row["c"] and row["s"] is not None
        B = max(1, int(row["s"]) // int(row["c"])) if has_data else 1
    else:
        B = int(bucket_units)
    if B < 1:
        raise ValueError(f"fifo_allocate: bucket_units must be >= 1, got {bucket_units}")

    def cum(side: DataFrame, tag: str) -> DataFrame:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(order_col).asc(), F.col(id_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        q0 = F.col(qty_col).cast("long")
        # the cumulative identity REQUIRES positive quantities (a
        # zero/negative/null qty makes an empty or inverted unit
        # interval and silently corrupts every later allocation in the
        # key) — fail the batch instead, q115-style
        q = F.when(
            q0.isNull() | (q0 <= 0),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"fifo_allocate: {qty_col} must be a positive "
                        "integer, got "
                    ),
                    F.coalesce(q0.cast("string"), F.lit("NULL")),
                    F.lit(f" for {tag} id "),
                    F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        ).otherwise(q0)
        lo = (F.sum(q).over(w) - q).alias(f"__{tag}lo")
        hi = F.sum(q).over(w).alias(f"__{tag}hi")
        return side.select(
            *keys, F.col(id_col).alias(f"{tag}_id"), lo, hi
        ).withColumn(
            "__bk",
            F.explode(
                F.expr(f"sequence(__{tag}lo div {B}, (__{tag}hi - 1) div {B})")
            ),
        )

    b = cum(buys, "buy")
    s = cum(sells, "sell")
    pair = b.join(s, [*keys, "__bk"]).filter(
        (F.col("__buylo") < F.col("__sellhi"))
        & (F.col("__selllo") < F.col("__buyhi"))
        # ownership dedup: only the intersection's first bucket emits
        & (F.col("__bk") == F.expr(f"greatest(__buylo, __selllo) div {B}"))
    )
    alloc = F.least(F.col("__buyhi"), F.col("__sellhi")) - F.greatest(
        F.col("__buylo"), F.col("__selllo")
    )
    return pair.select(
        *keys,
        "buy_id",
        "sell_id",
        alloc.cast("long").alias("qty_allocated"),
    ).filter(F.col("qty_allocated") > 0)


def state_durations(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Time-in-state report: per (key, state), the total seconds the
    key SPENT in that state — each event holds its state until the
    key's next event (the final event holds nothing, same convention
    as ``resample.time_weighted_avg``, whose category-valued twin this
    is). The SLA/status-accounting op (time in 'open' per ticket,
    minutes per playback quality, dwell per page type).

    One lead() window over a total (ts, tiebreak) order + one
    aggregate — single key shuffle, exact BIGINT seconds. Returns
    ``(keys..., state, n_events, total_s)``.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    dt = dict(df.dtypes)[ts_col]
    if dt == "timestamp_ntz":
        secs = F.expr(
            f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
        )
    elif dt == "timestamp":
        secs = F.unix_timestamp(F.col(ts_col))
    else:
        secs = F.col(ts_col).cast("long")
    work = df.withColumn("__s", secs).withColumn(
        "__hold", F.lead(F.col("__s")).over(w) - F.col("__s")
    )
    return work.groupBy(*keys, F.col(state_col).alias("state")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.coalesce(F.sum("__hold"), F.lit(0)).cast("long").alias("total_s"),
    )
