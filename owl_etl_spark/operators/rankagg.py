"""Rank aggregation and ranking-evaluation operators.

Round-10 wave 6: Borda/Copeland consensus ranking (the social-choice
sibling of reciprocal-rank fusion, q-family "RRF" round 6 wave 9 —
RRF fuses retrieval SCORES, Borda/Copeland fuse ORDINAL ranks and so
survive incomparable metric scales) and the decile lift/gains table
(the model-eval readout beside exact AUC (q-family round 6 wave 2)
and the F1 threshold sweep (q320): how concentrated are the
positives in the top-scored deciles?).

Reference parity: the reference ETL has no ranking surface — these
extend the beyond-reference analytics inventory.

Exactness: scores must arrive as exact integers (the caller
pre-rounds); ranks come from row_number over (score desc, candidate
asc) so ties are deterministic; every emitted ratio is either an
exact floor division of BIGINTs or one micro-snapped double
expression of exact BIGINTs — identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_M = 1_000_000


def _fd(x: str, d: str):
    """Exact floor division of BIGINT SQL fragments — Spark ``div``
    aligned with DuckDB ``//`` via the positive-mod identity (the
    q291 device; string fragments because ``div`` has no Column
    operator and double division loses exactness past 2^53)."""
    return F.expr(f"(({x}) - (((({x}) % ({d})) + ({d})) % ({d}))) div ({d})")


def borda_copeland(
    df: DataFrame,
    cand_col: str,
    ranker_col: str,
    score_col: str,
) -> DataFrame:
    """Fuse R independent rankings of the same candidate set into a
    consensus: Borda (positional points) and Copeland (pairwise
    majority wins). Input is the long frame (candidate, ranker,
    integer score); a candidate missing from a ranker simply earns no
    points from it (stated discipline — callers wanting strict
    completeness should inner-join their rosters first).

    Per ranker, rank = row_number over (score desc, candidate asc).
    Borda points per ranker = (n_ranked − rank); Copeland compares
    every candidate pair per ranker (win = smaller rank) and scores
    +1 / −1 / 0 per pairwise majority across rankers.

    Returns one row per candidate: ``(candidate, n_rankers,
    borda_points, copeland_score, borda_rank, copeland_rank)`` with
    final ranks tie-broken by candidate id.

    Scale posture: the pairwise step is CANDIDATE-cardinality-bounded
    (c²·R rows from a self-join of the c·R rank frame), never
    row-volume — the caller aggregates raw data down to candidates
    first (brands, sources, domains: ≤ thousands). Everything before
    it is one rank window per ranker.
    """
    d = df.select(
        F.col(cand_col).cast("string").alias("__c"),
        F.col(ranker_col).cast("string").alias("__rk"),
        F.col(score_col).cast("long").alias("__s"),
    ).filter(F.col("__c").isNotNull() & F.col("__rk").isNotNull() & F.col("__s").isNotNull())
    w = Window.partitionBy("__rk").orderBy(F.col("__s").desc(), F.col("__c").asc())
    wn = Window.partitionBy("__rk")
    ranks = d.select(
        "__c",
        "__rk",
        F.row_number().over(w).cast("long").alias("__r"),
        F.count(F.lit(1)).over(wn).cast("long").alias("__nr"),
    )
    borda = ranks.groupBy("__c").agg(
        F.count_distinct("__rk").cast("long").alias("n_rankers"),
        F.sum(F.col("__nr") - F.col("__r")).cast("long").alias("borda_points"),
    )
    o = ranks.select(
        F.col("__c").alias("__c2"), F.col("__rk").alias("__rk2"), F.col("__r").alias("__r2")
    )
    pair_votes = (
        ranks.join(o, (ranks["__rk"] == o["__rk2"]) & (ranks["__c"] < o["__c2"]))
        .groupBy("__c", "__c2")
        .agg(
            F.sum((F.col("__r") < F.col("__r2")).cast("long")).cast("long").alias("__wi"),
            F.sum((F.col("__r") > F.col("__r2")).cast("long")).cast("long").alias("__wj"),
        )
    )
    verdicts = pair_votes.select(
        "__c",
        "__c2",
        F.when(F.col("__wi") > F.col("__wj"), 1)
        .when(F.col("__wi") < F.col("__wj"), -1)
        .otherwise(0)
        .cast("long")
        .alias("__d"),
    )
    cope = (
        verdicts.select(F.col("__c").alias("__cc"), F.col("__d"))
        .unionAll(verdicts.select(F.col("__c2").alias("__cc"), (-F.col("__d")).alias("__d")))
        .groupBy("__cc")
        .agg(F.sum("__d").cast("long").alias("copeland_score"))
    )
    out = borda.join(cope, borda["__c"] == cope["__cc"], "left").select(
        F.col("__c").alias("candidate"),
        "n_rankers",
        "borda_points",
        F.coalesce(F.col("copeland_score"), F.lit(0)).cast("long").alias("copeland_score"),
    )
    wb = Window.orderBy(F.col("borda_points").desc(), F.col("candidate").asc())
    wc = Window.orderBy(F.col("copeland_score").desc(), F.col("candidate").asc())
    return out.select(
        "candidate",
        "n_rankers",
        "borda_points",
        "copeland_score",
        F.row_number().over(wb).cast("long").alias("borda_rank"),
        F.row_number().over(wc).cast("long").alias("copeland_rank"),
    )


def decile_lift(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
) -> DataFrame:
    """Decile lift / cumulative-gains table: bucket the population
    into 10 equal slices by descending integer score
    (ties broken by ``id_col`` — deterministic ntile), then report
    how the positives concentrate. THE campaign-targeting /
    model-triage readout: "the top decile captures X% of positives at
    Y× the base rate".

    Returns one row per bucket: ``(bucket, n, n_pos, rate_micro,
    cum_n, cum_pos, cum_capture_micro, lift_micro, cum_lift_micro)``.
    rate/capture are exact floor divisions of BIGINT counts; the lift
    ratios are one double expression of exact counts each,
    micro-snapped. Lift columns NULL when the population has no
    positives.

    ntile semantics match ANSI (first n % buckets get the extra row)
    — identical in Spark and DuckDB.

    Plan: one ntile window over (score desc, id asc), one (bucket)
    aggregate, one ordered window over the 10-row frame. The
    global sort is the unavoidable cost of exact deciles (cf. the
    no-global-sort quantile bucketing family for the billions-of-keys
    regime — this operator is for eval-sized scored sets).
    """
    d = df.select(
        F.col(score_col).cast("long").alias("__s"),
        F.col(label_col).cast("long").alias("__y"),
        F.col(id_col).cast("long").alias("__id"),
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    w = Window.orderBy(F.col("__s").desc(), F.col("__id").asc())
    b = d.select(
        F.ntile(10).over(w).cast("long").alias("bucket"), "__y"
    )
    per = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
    )
    w_run = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    per = (
        per.withColumn("cum_n", F.sum("n").over(w_run).cast("long"))
        .withColumn("cum_pos", F.sum("n_pos").over(w_run).cast("long"))
        .withColumn("__tn", F.sum("n").over(w_all).cast("long"))
        .withColumn("__tp", F.sum("n_pos").over(w_all).cast("long"))
    )
    base_ok = F.col("__tp") > 0
    lift = F.round(
        F.lit(float(_M))
        * (F.col("n_pos").cast("double") / F.col("n").cast("double"))
        / (F.col("__tp").cast("double") / F.col("__tn").cast("double"))
    ).cast("long")
    cum_lift = F.round(
        F.lit(float(_M))
        * (F.col("cum_pos").cast("double") / F.col("cum_n").cast("double"))
        / (F.col("__tp").cast("double") / F.col("__tn").cast("double"))
    ).cast("long")
    return per.select(
        "bucket",
        "n",
        "n_pos",
        _fd("n_pos * 1000000", "n").cast("long").alias("rate_micro"),
        "cum_n",
        "cum_pos",
        F.when(base_ok, _fd("cum_pos * 1000000", "__tp").cast("long")).alias(
            "cum_capture_micro"
        ),
        F.when(base_ok, lift).alias("lift_micro"),
        F.when(base_ok, cum_lift).alias("cum_lift_micro"),
    ).orderBy("bucket")


def qini_curve(
    df: DataFrame,
    treat_col: str,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Qini (uplift gains) curve — :func:`decile_lift`'s CAUSAL
    sibling: rank the population by a targeting score, then per
    cumulative decile compare how many extra positives the TREATED
    accumulate beyond what the controls' rate predicts for the same
    treated volume:

        qini_k = cumPos_t(k) − cumPos_c(k) · cumN_t(k)/cumN_c(k)

    The readout that validates a targeting score for INCREMENTAL
    effect, where plain lift conflates baseline propensity with
    uplift. Deciles are deterministic ntile over (score desc, id).

    Returns one row per bucket: ``(bucket, n_t, n_c, pos_t, pos_c,
    cum_n_t, cum_n_c, cum_pos_t, cum_pos_c, qini_micro,
    uplift_micro)`` — qini one snapped double expression of exact
    cumulative BIGINTs (NULL while cum_n_c = 0), uplift the
    per-bucket rate difference via exact floor divisions (NULL when
    a side is empty in the bucket).

    Plan: one ntile window, one (bucket) aggregate, cumulative
    windows over the n_buckets-row frame — the decile_lift cost
    envelope exactly.
    """
    d = df.select(
        F.col(treat_col).cast("boolean").alias("__t"),
        F.col(score_col).cast("long").alias("__s"),
        F.col(label_col).cast("long").alias("__y"),
        F.col(id_col).cast("long").alias("__id"),
    ).filter(
        F.col("__t").isNotNull() & F.col("__s").isNotNull() & F.col("__y").isNotNull()
    )
    w = Window.orderBy(F.col("__s").desc(), F.col("__id").asc())
    b = d.select(
        F.ntile(int(n_buckets)).over(w).cast("long").alias("bucket"), "__t", "__y"
    )
    per = b.groupBy("bucket").agg(
        F.sum(F.col("__t").cast("long")).cast("long").alias("n_t"),
        F.sum((~F.col("__t")).cast("long")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("__t"), F.col("__y")).otherwise(0)).cast("long").alias("pos_t"),
        F.sum(F.when(~F.col("__t"), F.col("__y")).otherwise(0)).cast("long").alias("pos_c"),
    )
    w_run = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per = (
        per.withColumn("cum_n_t", F.sum("n_t").over(w_run).cast("long"))
        .withColumn("cum_n_c", F.sum("n_c").over(w_run).cast("long"))
        .withColumn("cum_pos_t", F.sum("pos_t").over(w_run).cast("long"))
        .withColumn("cum_pos_c", F.sum("pos_c").over(w_run).cast("long"))
    )
    qini = F.round(
        F.lit(float(_M))
        * (
            F.col("cum_pos_t").cast("double")
            - F.col("cum_pos_c").cast("double")
            * (F.col("cum_n_t").cast("double") / F.col("cum_n_c").cast("double"))
        )
    ).cast("long")
    uplift = (
        _fd("pos_t * 1000000", "n_t") - _fd("pos_c * 1000000", "n_c")
    ).cast("long")
    return per.select(
        "bucket",
        "n_t",
        "n_c",
        "pos_t",
        "pos_c",
        "cum_n_t",
        "cum_n_c",
        "cum_pos_t",
        "cum_pos_c",
        F.when(F.col("cum_n_c") > 0, qini).alias("qini_micro"),
        F.when((F.col("n_t") > 0) & (F.col("n_c") > 0), uplift).alias("uplift_micro"),
    ).orderBy("bucket")
