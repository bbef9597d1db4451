"""Gradient-boosted decision stumps — engine-exact boosting on
DataFrame aggregates.

The smallest real gradient-boosting machine: K rounds of a one-split
regression stump fit to the running residual under squared loss. What
makes it a natural ENGINE operator (rather than a driver-side ML
library call) is that each round is ONE map-side-combined global
aggregate: for every candidate threshold t the split statistics
(n_left, sum_left) are conditional sums over the residual column, so
a round costs a single scan with 2·|T| partial aggregates — no
shuffle of row volumes, no per-row model state, and the model (the
chosen threshold and two leaf values) is a handful of driver scalars,
exactly the pagerank/logreg driver-iteration shape
(``operators/logreg.py``).

Why it's REPRODUCIBLE (the same discipline as
``logistic_regression_fit``): labels are integer-scaled by the caller
(e.g. cents), so residuals, split sums, and counts are exact BIGINTs
in any partition order. The split criterion — variance reduction,
equivalently maximizing S_L²/n_L + S_R²/n_R over candidate t — is
computed in DOUBLE *from those exact integers*, and IEEE multiply/
divide/add on identical inputs is bit-deterministic on every engine
(only libm functions and float SUM order are not; neither appears
here). Leaf values snap to integers via SQL-style half-away rounding,
so the whole K-round trajectory — thresholds, leaves, residuals — is
bit-identical across engines; the DuckDB oracle for q297 replays it
round by round with unrolled materialized CTEs and hash-matches.

At 100 TB: two scans of a 2-column integer projection — one collapses
it per x value for the driver replay of all K rounds
(``session.bounded_collect``; x must be bucketed), one computes every
round's MAE. Candidate thresholds are caller-fixed (domain knowledge
or a prior quantile pass), not data-adaptive per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.operators.logreg import _round_half_away
from owl_etl_spark.session import bounded_collect, literal_frame


def gbm_stump_fit(
    df: DataFrame,
    y_col: str,
    x_col: str,
    thresholds: list[int],
    rounds: int = 3,
) -> list[dict]:
    """Fit ``rounds`` boosted stumps on exact-integer labels.

    ``y_col`` must already be integer-scaled (cents, micro-units, …)
    and ``x_col`` integer-valued; both are cast to long. Returns one
    dict per round: ``{round, threshold, left_leaf, right_leaf,
    mae}`` — all exact integers in the label's scale; ``mae`` is the
    half-away-rounded mean |residual| AFTER applying that round's
    stump. Round 0 is the base prediction (global mean) reported as
    ``threshold=None`` with both leaves equal.

    Candidates where a split would be empty on either side are
    skipped; ties on the gain break toward the SMALLEST threshold.
    Raises if no candidate ever splits the data, or if ``x_col`` has
    more distinct values than ``session.DRIVER_REPLAY_MAX_ROWS``
    (bucket it).
    """
    if not thresholds:
        raise ValueError("gbm_stump_fit: need at least one candidate threshold")
    ts = sorted(int(t) for t in thresholds)
    work = df.select(
        F.col(y_col).cast("long").alias("__y"),
        F.col(x_col).cast("long").alias("__x"),
    )

    # Every split statistic is linear in y within an x-group, so
    # Σ_{x≤t} resid_k derives exactly from (n_x, Σy_x) and pred_k: the
    # per-x collapsed frame replays the K rounds on the driver (see
    # session.bounded_collect) — BIGINT sums of Python ints in any
    # order, gains as IEEE doubles OF those exact integers, identical
    # to the JVM's. What stays on the cluster is the collapse and ONE
    # final full-data scan for every round's MAE (|y − pred_k(x)| is
    # not linear in y, so it genuinely needs the rows).
    xrows = bounded_collect(
        work.groupBy("__x").agg(
            F.count(F.lit(1)).cast("long").alias("__nx"),
            F.sum("__y").cast("long").alias("__sy"),
        )
    )
    if xrows is None:
        raise ValueError(
            "gbm_stump_fit: more distinct x values than the driver-replay "
            "cap (session.DRIVER_REPLAY_MAX_ROWS) — x must be a bucketed "
            "integer covariate; bucket it upstream"
        )
    n_total = sum(r["__nx"] for r in xrows)
    s_total = sum(r["__sy"] for r in xrows if r["__sy"] is not None)
    if not n_total:
        raise ValueError("gbm_stump_fit: empty input")
    base = _round_half_away(s_total / n_total)

    out = [
        {
            "round": 0,
            "threshold": None,
            "left_leaf": base,
            "right_leaf": base,
            "mae": None,  # all maes filled by the single final scan
        }
    ]
    # pred_k(x) as an exact-integer column expression over __x; starts
    # at the base prediction and gains one stump per round
    def _pred_plus(pred_col, t, left, right):
        return pred_col + F.when(
            F.col("__x") <= F.lit(t), F.lit(left)
        ).otherwise(F.lit(right))

    # driver replay state: pred_k(x) per collapsed x-group, exact ints.
    # A null x never satisfies `__x <= t`, so it takes the right leaf
    # every round (same as the column expression's `otherwise`) and is
    # excluded from the conditional sums (a null SQL condition skips
    # the term), but its (sy − nx·pred) term does enter the
    # unconditional residual total — all mirrored below.
    predmap = {r["__x"]: base for r in xrows}
    pred = F.lit(base).cast("long")
    preds = [pred]  # pred_k per round, for the final MAE scan
    for k in range(1, int(rounds) + 1):
        # candidate stats over the COLLAPSED rows: resid sums derive
        # from (n_x, sy_x) and the current prediction — exact Python
        # ints, order-free, bit-identical to the JVM's BIGINT sums
        s_resid = sum(
            r["__sy"] - r["__nx"] * predmap[r["__x"]]
            for r in xrows
            if r["__sy"] is not None
        )
        best = None  # (gain, -t) max; i.e. ties -> smallest t
        for t in ts:
            nl = sum(r["__nx"] for r in xrows if r["__x"] is not None and r["__x"] <= t)
            if nl == 0 or nl == n_total:
                continue
            sl = sum(
                r["__sy"] - r["__nx"] * predmap[r["__x"]]
                for r in xrows
                if r["__x"] is not None and r["__x"] <= t and r["__sy"] is not None
            )
            sr = s_resid - sl
            nr = n_total - nl
            # exact ints -> IEEE double ops: bit-identical on any engine
            gain = (float(sl) * float(sl)) / nl + (float(sr) * float(sr)) / nr
            if best is None or (gain, -t) > (best[0], -best[1]):
                best = (gain, t, sl, nl, sr, nr)
        if best is None:
            raise ValueError(
                "gbm_stump_fit: no candidate threshold splits the data — "
                "widen `thresholds`"
            )
        _, t, sl, nl, sr, nr = best
        left = _round_half_away(sl / nl)
        right = _round_half_away(sr / nr)
        for x in predmap:
            predmap[x] += left if (x is not None and x <= t) else right
        pred = _pred_plus(pred, t, left, right)
        preds.append(pred)
        out.append(
            {"round": k, "threshold": t, "left_leaf": left, "right_leaf": right,
             "mae": None}
        )
    # ONE data scan evaluates every round's Σ|y − pred_k(x)|
    final = work.agg(
        *[
            F.sum(F.abs(F.col("__y") - preds[k])).cast("long").alias(f"a{k}")
            for k in range(len(preds))
        ]
    ).collect()[0]
    for k in range(len(preds)):
        out[k]["mae"] = _round_half_away(final[f"a{k}"] / n_total)
    return out


def gbm_stump_model_df(spark, fitted: list[dict]) -> DataFrame:
    """The fitted trajectory as a tiny driver-built DataFrame (one row
    per round) — the model artifact a pipeline persists next to the
    data it scores.

    Built as a literal plan, not ``createDataFrame`` (r13, guide §4):
    parallelizing a 4-row Python list distributes it over
    ``defaultParallelism`` pickle partitions, and every task pays a
    Python-worker round trip to deserialize its (mostly empty) slice —
    profiled at 32 tasks / ~1.9 s wall for this frame alone. The
    literal form evaluates in the JVM: zero Python boundary."""
    return literal_frame(
        spark,
        [
            (d["round"], d["threshold"], d["left_leaf"], d["right_leaf"], d["mae"])
            for d in fitted
        ],
        "boost_round bigint, threshold bigint, left_leaf bigint, "
        "right_leaf bigint, mae bigint",
    )
