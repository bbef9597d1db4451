"""Multi-touch marketing attribution: split each conversion's value
across the touches that preceded it, deterministically, in integer
units.

The analytics-warehouse staple the events table exists for: "which
clicks/views get credit for this purchase?" Single-touch rules
(first/last) are an as-of join (q50's operator); the LINEAR rule
credits every touch in the lookback window equally — and doing that
reproducibly at scale needs two things hand-rolled SQL usually gets
wrong:

- **Exact value conservation.** Credit is integer cents split as
  ``floor(v/n)`` with the remainder distributed +1 to the FIRST
  ``v mod n`` touches in time order — Σ credits == v exactly, per
  conversion, with no float leakage, on any engine (a ``v/n`` double
  split neither conserves nor replays).
- **Deterministic tie handling.** Touch order is (ts, touch id) —
  total, so the remainder lands on the same touches under any
  partitioning.

Scale shape: the touch↔conversion match is an equi-join on (user,
TIME BUCKET of width ``lookback_seconds``), not on the bare user key.
A bare key join evaluates the time-window predicate AFTER the
equi-match, so one hot user with 10^5 touches and 10^4 conversions
materializes 10^9 candidate pairs inside a single task before any
filtering — the same per-key-quadratic shape ``fifo_allocate``
buckets away (intervals.py). Here the lookback window is exactly one
bucket wide, so each conversion probes precisely its own bucket and
the previous one (2 probe rows), each touch carries one bucket, and
every true pair appears exactly once with NO dedup pass. Per-task
candidates become O(events per (user, bucket))² at worst — bounded by
activity RATE, not lifetime volume. The exact window predicate still
runs after the bucket join, so results are identical to the naive
join for any clock. Per-conversion ranking is one window over the
matched pairs; one final aggregate per touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Most channels exact Shapley (2^k coalitions) accepts.
MAX_CHANNELS = 12


def _ranked_pairs(
    touches: DataFrame,
    conversions: DataFrame,
    key_col: str,
    touch_id_col: str,
    touch_ts_col: str,
    conv_id_col: str,
    conv_ts_col: str,
    value_col: str,
    lookback_seconds: int,
) -> DataFrame:
    """Shared matcher for the attribution rules: bucketed join +
    per-conversion (ts, touch_id) ranking. Returns one row per
    (touch, conversion) match with ``__k, touch_id, __cid, __v, __r``
    (1-based time rank within the conversion) and ``__n`` (match
    count)."""

    t = touches.select(
        F.col(key_col).alias("__k"),
        F.col(touch_id_col).alias("touch_id"),
        F.col(touch_ts_col).alias("__tts"),
    )
    c = conversions.select(
        F.col(key_col).alias("__k"),
        F.col(conv_id_col).alias("__cid"),
        F.col(conv_ts_col).alias("__cts"),
        F.col(value_col).cast("long").alias("__v"),
    )
    lb = F.expr(f"INTERVAL {int(lookback_seconds)} SECOND")
    ts_type = dict(t.dtypes)["__tts"]
    if ts_type.startswith("timestamp"):
        window_pred = (F.col("__tts") < F.col("__cts")) & (
            F.col("__tts") >= F.col("__cts") - lb
        )
    else:
        window_pred = (F.col("__tts") < F.col("__cts")) & (
            F.col("__tts") >= F.col("__cts") - F.lit(int(lookback_seconds))
        )

    # Bucketing (plan-side only; see module docstring). Work in exact
    # integer MICROSECONDS so bucket assignment has no truncation edge:
    # the lookback window [cts - L, cts) is exactly one bucket wide, so
    # a matching touch's bucket is fdiv(cts_us, L_us) or that minus 1 —
    # the two buckets each conversion probes. fdiv is true FLOOR
    # division via pmod (a - pmod(a, m) is exactly divisible by m), so
    # pre-epoch negatives bucket consistently too.
    def _us(name: str, ty: str) -> F.Column:
        if ty == "timestamp_ntz":
            return F.expr(
                "timestampdiff(MICROSECOND, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {name})"
            )
        if ty.startswith("timestamp"):
            return F.unix_micros(F.col(name))
        return F.col(name).cast("long") * F.lit(1_000_000)

    l_us = F.lit(int(lookback_seconds) * 1_000_000)

    def _fdiv(a: F.Column) -> F.Column:
        return ((a - F.pmod(a, l_us)) / l_us).cast("long")

    t_us = _us("__tts", dict(t.dtypes)["__tts"])
    c_us = _us("__cts", dict(c.dtypes)["__cts"])

    t2 = t.withColumn("__bk", _fdiv(t_us))
    c2 = c.withColumn(
        "__bk", F.explode(F.array(_fdiv(c_us) - 1, _fdiv(c_us)))
    )
    matched = t2.join(c2, ["__k", "__bk"]).filter(window_pred).drop("__bk")

    from pyspark.sql import Window

    w = Window.partitionBy("__cid").orderBy(
        F.col("__tts").asc(), F.col("touch_id").asc()
    )
    return matched.withColumn("__r", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("__cid"))
    )


def _credit_rollup(ranked: DataFrame, key_col: str, credit: F.Column) -> DataFrame:
    return (
        ranked.withColumn("__credit", credit)
        .groupBy(F.col("__k").alias(key_col), "touch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.sum("__credit").cast("long").alias("attributed_value"),
        )
    )


def linear_attribution(
    touches: DataFrame,
    conversions: DataFrame,
    key_col: str,
    touch_id_col: str,
    touch_ts_col: str,
    conv_id_col: str,
    conv_ts_col: str,
    value_col: str,
    lookback_seconds: int = 7 * 24 * 3600,
) -> DataFrame:
    """Per-touch attributed value under the linear rule.

    A touch matches a conversion when it belongs to the same
    ``key_col`` (user) and happened in ``[conv_ts - lookback,
    conv_ts)`` — strictly before the conversion. Returns one row per
    touch that earned any credit: ``(key, touch_id, n_conversions,
    attributed_value)`` with exact integer conservation per
    conversion (feed integer cents): floor(v/n) each, remainder +1 to
    the first v mod n touches in time order. Conversions with zero
    matching touches receive no attribution rows (track them
    separately if unattributed volume matters).

    Timestamps may be TIMESTAMP/TIMESTAMP_NTZ (compared directly —
    same type on both sides) or numeric epoch seconds.
    """
    ranked = _ranked_pairs(
        touches, conversions, key_col, touch_id_col, touch_ts_col,
        conv_id_col, conv_ts_col, value_col, lookback_seconds,
    )
    credit = F.expr("__v div __n") + F.when(
        F.col("__r") <= F.col("__v") % F.col("__n"), 1
    ).otherwise(0)
    return _credit_rollup(ranked, key_col, credit)


def position_attribution(
    touches: DataFrame,
    conversions: DataFrame,
    key_col: str,
    touch_id_col: str,
    touch_ts_col: str,
    conv_id_col: str,
    conv_ts_col: str,
    value_col: str,
    lookback_seconds: int = 7 * 24 * 3600,
    first_pct: int = 40,
    last_pct: int = 40,
) -> DataFrame:
    """Position-based (U-shaped) attribution: the first and last
    matching touches take ``first_pct`` / ``last_pct`` percent of each
    conversion's value, the middle touches split the rest evenly —
    the model marketers use when discovery and closing matter more
    than the nurturing in between (linear_attribution's equal split
    is the other convention; single-touch first/last are as-of
    joins).

    Exact integer conservation per conversion, cent by cent:
    f = v·first_pct div 100 and l = v·last_pct div 100; with middle
    touches, each gets rest div m and the EARLIEST rest mod m of them
    +1; with exactly two touches the rest splits first-heavy
    (rest − rest div 2 / rest div 2); a lone touch takes everything.
    Same matcher, bucketing, and per-task bounds as
    ``linear_attribution``.
    """
    if not (0 <= int(first_pct) and 0 <= int(last_pct)
            and int(first_pct) + int(last_pct) <= 100):
        raise ValueError(
            f"position_attribution: first_pct={first_pct} last_pct={last_pct} "
            "must be non-negative and sum to <= 100"
        )
    ranked = _ranked_pairs(
        touches, conversions, key_col, touch_id_col, touch_ts_col,
        conv_id_col, conv_ts_col, value_col, lookback_seconds,
    )
    fp, lp = int(first_pct), int(last_pct)
    credit = F.expr(
        f"""CASE
          WHEN __n = 1 THEN __v
          WHEN __n = 2 AND __r = 1 THEN
            __v * {fp} div 100
            + (__v - __v * {fp} div 100 - __v * {lp} div 100)
            - (__v - __v * {fp} div 100 - __v * {lp} div 100) div 2
          WHEN __n = 2 THEN
            __v * {lp} div 100
            + (__v - __v * {fp} div 100 - __v * {lp} div 100) div 2
          WHEN __r = 1 THEN __v * {fp} div 100
          WHEN __r = __n THEN __v * {lp} div 100
          ELSE (__v - __v * {fp} div 100 - __v * {lp} div 100) div (__n - 2)
               + CASE WHEN __r - 1 <=
                   (__v - __v * {fp} div 100 - __v * {lp} div 100) % (__n - 2)
                 THEN 1 ELSE 0 END
        END"""
    )
    return _credit_rollup(ranked, key_col, credit)


def time_decay_attribution(
    touches: DataFrame,
    conversions: DataFrame,
    key_col: str,
    touch_id_col: str,
    touch_ts_col: str,
    conv_id_col: str,
    conv_ts_col: str,
    value_col: str,
    lookback_seconds: int = 7 * 24 * 3600,
    half_life_seconds: int = 24 * 3600,
) -> DataFrame:
    """Time-decay attribution: recent touches earn geometrically more
    credit. Each matched touch carries the integer weight

        w = max(1, 1_000_000 >> min(Δt div half_life, 62))

    (Δt = whole seconds from touch to conversion) — an exact
    power-of-two half-life ladder, never a float pow; the max(1,·)
    floor keeps every in-window touch weighted so the per-conversion
    weight total is always positive. Credit is the largest-remainder
    split of the conversion's integer value over the weights:
    floor(v·w/W) each, then +1 by (remainder desc, time order) until
    the total reaches v — Σ credits == v EXACTLY per conversion (the
    prorate.largest_remainder_allocate discipline applied inside a
    per-conversion window), deterministic under any partitioning.

    Same matcher, (user, time-bucket) join, and per-task bounds as
    ``linear_attribution``; adds two windows over the matched pairs
    (weight total + remainder rank), still one key shuffle. Value
    bound: v·1_000_000 must stay in BIGINT — integer cents to
    ~9·10^12 are safe.
    """
    from pyspark.sql import Window

    ranked = _ranked_pairs(
        touches, conversions, key_col, touch_id_col, touch_ts_col,
        conv_id_col, conv_ts_col, value_col, lookback_seconds,
    )

    def _us(name: str, ty: str) -> F.Column:
        if ty == "timestamp_ntz":
            return F.expr(
                "timestampdiff(MICROSECOND, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {name})"
            )
        if ty.startswith("timestamp"):
            return F.unix_micros(F.col(name))
        return F.col(name).cast("long") * F.lit(1_000_000)

    types = dict(ranked.dtypes)
    d = ranked.withColumn(
        "__dus", _us("__cts", types["__cts"]) - _us("__tts", types["__tts"])
    ).withColumn("__dsec", F.expr("__dus div 1000000"))
    hl = int(half_life_seconds)
    if hl <= 0:
        raise ValueError(f"time_decay_attribution: half_life_seconds must be > 0, got {hl}")
    d = d.withColumn(
        "__w",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"shiftright(CAST(1000000 AS BIGINT), "
                f"CAST(least(__dsec div {hl}, 62) AS INT))"
            ),
        ),
    )
    w_cid = Window.partitionBy("__cid")
    d = (
        d.withColumn("__wtot", F.sum("__w").over(w_cid))
        .withColumn("__fl", F.expr("(__v * __w) div __wtot"))
        .withColumn("__rem", F.expr("(__v * __w) % __wtot"))
        .withColumn("__sfl", F.sum("__fl").over(w_cid))
        .withColumn(
            "__wr",
            F.row_number().over(
                Window.partitionBy("__cid").orderBy(
                    F.col("__rem").desc(), F.col("__r").asc()
                )
            ),
        )
    )
    credit = F.col("__fl") + F.when(
        F.col("__wr") <= F.col("__v") - F.col("__sfl"), 1
    ).otherwise(0)
    return _credit_rollup(d, key_col, credit)


def shapley_attribution(
    touches: DataFrame,
    user_col: str,
    channel_col: str,
    conv_col: str,
) -> DataFrame:
    """Exact Shapley-value channel attribution over EXPOSURE
    COALITIONS — the game-theoretic completion of the rule-based
    family (linear q142 / position q168 / time-decay q215 / Markov
    q249): each channel's credit is its average marginal contribution
    to conversion over all orderings of the channel set.

    Characteristic function: users collapse to their exposure BITMASK
    (one groupBy); v(mask) = fd(converters·1e6, users) for masks
    actually observed, 0 for unobserved coalitions (the standard
    zero-imputation convention for data-driven Shapley — documented,
    not hidden). Credit for channel i (kept ·k! so everything is an
    exact BIGINT — the factorial weights are integers by construction):

        shapley_scaled(i) = Σ_{S ∌ i} |S|!·(k−|S|−1)!·(v(S∪i) − v(S))

    and ``shapley_micro = fd(shapley_scaled, k!)`` divides once at the
    end. Deterministic: channel indices are assigned by SORTED channel
    name, all arithmetic integer.

    Scale contract: the subset enumeration is 2^k·k rows with
    k = |channels| — O(data) work is ONE user-mask aggregate and ONE
    mask aggregate; the exponential part never touches data and is
    refused loudly past ``MAX_CHANNELS`` (k=12 → 49k rows; Shapley
    over more channels needs sampling, a different operator). Spark
    and DuckDB both evaluate popcount via ``bit_count``."""
    chans = [
        r[0]
        for r in touches.select(F.col(channel_col).cast("string"))
        .filter(F.col(channel_col).isNotNull())
        .distinct()
        .collect()
    ]
    chans = sorted(chans)
    k = len(chans)
    if k == 0:
        raise ValueError("shapley_attribution: no non-null channels")
    if k > MAX_CHANNELS:
        raise ValueError(
            f"shapley_attribution: {k} channels > max_channels={MAX_CHANNELS} "
            "— exact Shapley is 2^k; sample channels or raise the guard "
            "deliberately"
        )
    idx = F.create_map(
        *[x for c, i in ((c, i) for i, c in enumerate(chans)) for x in (F.lit(c), F.lit(i))]
    )
    um = (
        touches.filter(F.col(channel_col).isNotNull())
        .select(
            F.col(user_col).alias("__u"),
            idx[F.col(channel_col).cast("string")].cast("int").alias("__i"),
            F.col(conv_col).cast("long").alias("__c"),
        )
        .select(
            "__u",
            F.expr("shiftleft(cast(1 as bigint), __i)").alias("__bit"),
            "__c",
        )
        .groupBy("__u")
        .agg(
            F.bit_or("__bit").alias("__mask"),
            F.max("__c").alias("__conv"),
        )
    )
    vms = (
        um.groupBy("__mask")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__conv").cast("long").alias("__k"),
        )
        .select(
            "__mask",
            F.expr(
                "((__k * 1000000) - ((((__k * 1000000) % __n) + __n) % __n)) div __n"
            ).cast("long").alias("__v"),
        )
    )
    # factorial weights, driver-side exact ints
    fact = [1] * (k + 1)
    for i in range(2, k + 1):
        fact[i] = fact[i - 1] * i
    weight_sql = " ".join(
        f"WHEN {s} THEN {fact[s] * fact[k - s - 1]}" for s in range(k)
    )
    spark = touches.sparkSession
    masks = spark.range(0, 2**k).select(F.col("id").cast("long").alias("__s"))
    from owl_etl_spark.session import literal_frame

    chan_rows = literal_frame(
        spark, [(c, i) for i, c in enumerate(chans)], "channel string, __i int"
    )
    pairs = (
        masks.crossJoin(F.broadcast(chan_rows))
        .filter(F.expr("(__s div CAST(pow(2, __i) AS BIGINT)) % 2 = 0"))
        .select(
            "channel",
            "__i",
            "__s",
            F.expr("__s + shiftleft(cast(1 as bigint), __i)").alias("__si"),
            F.expr(f"CASE bit_count(__s) {weight_sql} END").cast("long").alias("__wt"),
        )
    )
    vs = vms.select(F.col("__mask").alias("__s"), F.col("__v").alias("__vs"))
    vsi = vms.select(F.col("__mask").alias("__si"), F.col("__v").alias("__vsi"))
    scaled = (
        pairs.join(F.broadcast(vs), "__s", "left")
        .join(F.broadcast(vsi), "__si", "left")
        .groupBy("channel")
        .agg(
            F.sum(
                F.col("__wt")
                * (F.coalesce(F.col("__vsi"), F.lit(0)) - F.coalesce(F.col("__vs"), F.lit(0)))
            )
            .cast("long")
            .alias("shapley_scaled")
        )
    )
    kf = fact[k]
    # shapley_scaled carries v's micro units times k! — one exact
    # floor-div recovers micro credit (remainder < k! ≪ the 1e6-scale
    # values, so resolution is preserved)
    return scaled.select(
        "channel",
        "shapley_scaled",
        F.expr(
            f"(shapley_scaled - (((shapley_scaled % {kf}) + {kf}) % {kf})) div {kf}"
        )
        .cast("long")
        .alias("shapley_micro"),
    )
