"""Distribution-drift monitoring: PSI (population stability index)
between a reference window and a current window, per group.

A training-data pipeline re-ingesting monthly drops (the reference's
folder-per-month contract, src/etl/load.py:56-62) needs to know when a
feed's distribution moved before the model does. PSI is the standard
production monitor: bin the reference window, compute
``Σ (p_cur - p_ref) · ln(p_cur / p_ref)`` over the bins, alert at the
conventional 0.1 (drifting) / 0.25 (drifted) thresholds.

Determinism contract (what makes this oracle-checkable and
re-run-stable at 100 TB):
- bins are FIXED-WIDTH over the reference window's integer [min, max],
  assigned with pure integer arithmetic (``(v - lo) * n // span``) —
  no float edges, identical in any engine; current-window values
  outside the reference range clamp into the edge bins;
- proportions use add-one (Laplace) smoothing so empty bins never
  produce ln(0) — deterministic, parameter-free;
- each bin's PSI term is snapped to integer MICRO-nats before the
  sum (the q104 unigram-cost trick): the only float op is one ln +
  two divisions per (group, bin), fixed evaluation order, and the
  cross-bin accumulation is exact BIGINT addition in any order.

Plan shape: one aggregate over each window (map-side combined), a
broadcast join against the per-group bounds (one row per group), a
dense bin grid generated per group (sequence + explode, n_bins rows
per group), and one final keyed aggregate. No windows, no sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group PSI of ``cur`` vs ``ref`` over integer ``value_col``.

    Returns one row per group: n_ref, n_cur, psi_micro_nats (BIGINT,
    PSI · 1e6), and the conventional drift verdict string
    ('stable' < 0.1 <= 'drifting' < 0.25 <= 'drifted')."""
    bounds = ref.groupBy(*keys).agg(
        F.min(value_col).cast("long").alias("__lo"),
        F.max(value_col).cast("long").alias("__hi"),
    )

    def _binned(df: DataFrame, out: str) -> DataFrame:
        j = df.join(F.broadcast(bounds), keys)
        # integer division: positives truncate identically in every
        # engine; below-range negatives clamp to bin 0 either way
        b = F.least(
            F.lit(9),
            F.greatest(F.lit(0), F.expr(f"((CAST({value_col} AS BIGINT) - __lo) * 10) div (__hi - __lo + 1)")),
        )
        return j.groupBy(*keys, b.alias("bin")).agg(
            F.count(F.lit(1)).cast("long").alias(out)
        )

    rc, cc = _binned(ref, "n_ref"), _binned(cur, "n_cur")
    grid = bounds.select(
        *keys, F.explode(F.expr("sequence(0, 9)")).alias("bin")
    ).withColumn("bin", F.col("bin").cast("long"))
    cells = (
        grid.join(rc, [*keys, "bin"], "left")
        .join(cc, [*keys, "bin"], "left")
        .select(
            *keys,
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    totals = cells.groupBy(*keys).agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    pr = (F.col("n_ref") + 1) / (F.col("__tr") + 10)
    pc = (F.col("n_cur") + 1) / (F.col("__tc") + 10)
    term = F.round((pc - pr) * F.log(pc / pr) * 1_000_000).cast("long")
    psi = (
        cells.join(F.broadcast(totals), keys)
        .withColumn("__term", term)
        .groupBy(*keys)
        .agg(
            F.sum("n_ref").cast("long").alias("n_ref"),
            F.sum("n_cur").cast("long").alias("n_cur"),
            F.sum("__term").cast("long").alias("psi_micro_nats"),
        )
    )
    verdict = (
        F.when(F.col("psi_micro_nats") < 100_000, "stable")
        .when(F.col("psi_micro_nats") < 250_000, "drifting")
        .otherwise("drifted")
    )
    # Groups present ONLY in the current window have no reference bins
    # to compare against — but silently dropping them would make the
    # monitor report nothing for the MOST drifted case (a brand-new
    # segment in the feed). Emit them explicitly.
    new_groups = (
        cur.groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("n_cur"))
        .join(bounds.select(*keys), keys, "left_anti")
        .select(
            *keys,
            F.lit(0).cast("long").alias("n_ref"),
            "n_cur",
            F.lit(None).cast("long").alias("psi_micro_nats"),
            F.lit("new_segment").alias("verdict"),
        )
    )
    return psi.withColumn("verdict", verdict).unionByName(new_groups)


def cusum_report(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    target: int,
    slack_k: int,
    threshold_h: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Two-sided CUSUM change detection per key, in EXACT integer
    arithmetic — the sequential mean-shift monitor (Page 1954) that
    catches small sustained drifts a per-point z-score never sees
    (q140's complement: seasonal z flags single outliers; CUSUM flags
    a process whose MEAN moved).

    The textbook recursion ``s_t = max(0, s_(t-1) + (v_t - target -
    k))`` is sequential and engine-hostile; this uses the exact
    prefix-extremum identity instead:

        s⁺_t = P_t − min(0, min_{j ≤ t} P_j) ,  P_t = Σ_{i≤t} (v_i − target − k)
        s⁻_t = max(0, max_{j ≤ t} N_j) − N_t ,  N_t = Σ_{i≤t} (v_i − target + k)

    (the 0 terms are the EMPTY prefix P_0 = N_0 = 0 — dropping them
    would zero out any series that alarms from its very first rows)

    (the clamp-at-zero walk equals the walk's distance from its
    running minimum/maximum — both running aggregates are plain ROWS
    UNBOUNDED PRECEDING windows, so the whole detector is ONE key
    shuffle + windowed prefix sums, order-independent and
    oracle-replayable). Feed integer units (cents) for ``value_col``,
    ``target``, ``slack_k`` and ``threshold_h``; every column below is
    an exact BIGINT. Alarm columns flag ``s > threshold_h`` per side;
    after an alarm the statistic keeps accumulating (no reset — the
    bounded-memory streaming convention; resets are a downstream
    choice).

    Overflow headroom: |P_t| ≤ n · max(|v| + target + k) — BIGINT-safe
    for any realistic per-key series (1e12 rows × 1e6 units).
    """
    from pyspark.sql import Window

    order = [F.col(order_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    v = F.col(value_col).cast("long")
    p = F.sum(v - F.lit(int(target)) - F.lit(int(slack_k))).over(w)
    n = F.sum(v - F.lit(int(target)) + F.lit(int(slack_k))).over(w)
    work = df.withColumn("__p", p).withColumn("__n", n)
    run_min = F.least(F.lit(0).cast("long"), F.min("__p").over(w))
    run_max = F.greatest(F.lit(0).cast("long"), F.max("__n").over(w))
    return (
        work.withColumn("s_plus", (F.col("__p") - run_min).cast("long"))
        .withColumn("s_minus", (run_max - F.col("__n")).cast("long"))
        .withColumn("alarm_up", F.col("s_plus") > F.lit(int(threshold_h)))
        .withColumn("alarm_down", F.col("s_minus") > F.lit(int(threshold_h)))
        .drop("__p", "__n")
    )


def jsd_pairs(
    df: DataFrame,
    key_col: str,
    token_col: str,
) -> DataFrame:
    """Jensen-Shannon divergence between every pair of keyed token
    distributions — the bounded, symmetric member of the drift family
    (PSI q139 needs bins, KS q230 needs an ordered domain, W₁ q267
    needs a metric; JSD works on ANY categorical distribution and is
    bounded by ln 2, which makes cross-pair comparison meaningful):

        JSD(P, Q) = ½ Σ p·ln(2p/(p+q)) + ½ Σ q·ln(2q/(p+q))

    Integer discipline: with counts a/N_A and b/N_B the log argument
    is the exact rational 2a·N_B/(a·N_B + b·N_A); each token
    contributes a · round(ln(arg)·1e6) — one float ln per (pair,
    token), micro-snapped before the exact BIGINT sum (the q245
    device) — and the two halves divide once each by 2·N. Missing
    tokens need no epsilon: b = 0 makes the argument exactly 2 (the
    natural JSD boundary term). Headroom: a·7·10⁵·vocab ≤ 2⁶³ for
    any corpus with ≤ ~10¹² token instances per key.

    Returns ``(key_a, key_b, n_a, n_b, jsd_micro_nats)`` for
    key_a < key_b. One token-count aggregate (the only data-sized
    shuffle); pair work is vocabulary-sized."""
    d = df.select(
        F.col(key_col).cast("string").alias("__k"),
        F.col(token_col).cast("string").alias("__t"),
    ).filter(F.col("__k").isNotNull() & F.col("__t").isNotNull())
    cnt = d.groupBy("__k", "__t").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    tot = cnt.groupBy("__k").agg(F.sum("__c").cast("long").alias("__n"))
    pairs = (
        tot.select(F.col("__k").alias("key_a"), F.col("__n").alias("n_a"))
        .join(
            tot.select(F.col("__k").alias("key_b"), F.col("__n").alias("n_b")),
            F.col("key_a") < F.col("key_b"),
        )
    )
    ca = cnt.select(F.col("__k").alias("key_a"), "__t", F.col("__c").alias("__a"))
    cb = cnt.select(F.col("__k").alias("key_b"), "__t", F.col("__c").alias("__b"))
    sup = (
        pairs.join(ca, "key_a")
        .join(cb, ["key_b", "__t"], "left")
        .select(
            "key_a", "key_b", "n_a", "n_b", "__t",
            F.col("__a"), F.coalesce(F.col("__b"), F.lit(0)).alias("__b"),
        )
    )
    supb = (
        pairs.join(cb, "key_b")
        .join(ca, ["key_a", "__t"], "left_anti")
        .select(
            "key_a", "key_b", "n_a", "n_b", "__t",
            F.lit(0).cast("long").alias("__a"), F.col("__b"),
        )
    )
    allsup = sup.unionByName(supb)
    term = lambda x, nx, y, ny: (
        f"CASE WHEN {x} > 0 THEN {x} * cast(round(ln(cast(2 * {x} AS DOUBLE) * {ny}"
        f" / (cast({x} AS DOUBLE) * {ny} + cast({y} AS DOUBLE) * {nx})) * 1e6)"
        f" as bigint) ELSE 0 END"
    )
    fd = lambda x, dv: f"(({x}) - (((({x}) % ({dv})) + ({dv})) % ({dv}))) div ({dv})"
    return (
        allsup.groupBy("key_a", "key_b", "n_a", "n_b")
        .agg(
            F.sum(F.expr(term("__a", "n_a", "__b", "n_b"))).cast("long").alias("__sa"),
            F.sum(F.expr(term("__b", "n_b", "__a", "n_a"))).cast("long").alias("__sb"),
        )
        .select(
            "key_a",
            "key_b",
            "n_a",
            "n_b",
            (
                F.expr(fd("__sa", "2 * n_a")) + F.expr(fd("__sb", "2 * n_b"))
            )
            .cast("long")
            .alias("jsd_micro_nats"),
        )
        .orderBy("key_a", "key_b")
    )
