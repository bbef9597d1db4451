"""Deterministic dataset splitting for training pipelines.

A training-data engine must assign every record to train/val/test
*stably*: the assignment may not change when the data is
repartitioned, re-read, or grown (new rows get fresh assignments;
old rows keep theirs). Random sampling (``df.sample``) fails all
three at 100 TB — it is seed-and-partitioning dependent. Hashing the
record key is the standard fix: pure per-row arithmetic, zero
shuffles, reproducible on any engine (md5 prefix ints — see
``functions.hashing`` for the portability rationale).

The reference (Jave-OWL/owl-ETL) has no sampling/splitting surface;
this extends its pipeline toward the LLM-training-data use case.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import md5_long
from owl_etl_spark.session import seal


def hash_bucket(key: Column, num_buckets: int = 100, salt: str = "") -> Column:
    """Stable bucket id in ``[0, num_buckets)`` from a key column.

    ``salt`` derives an independent bucketing from the same key (e.g.
    one split for language balance, another for train/test).
    """
    text = F.concat(key.cast("string"), F.lit(f"|{salt}")) if salt else key.cast("string")
    return F.pmod(md5_long(text), F.lit(num_buckets))


def hash_split(
    df: DataFrame,
    key: str | Column,
    fractions: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Assign each row to a named split by hashed key.

    ``fractions`` maps split name → fraction (must sum to ~1.0); rows
    land in splits by cumulative ranges over a 1e6-bucket hash space,
    so fractions as fine as 0.0001 % are honored. Per-row expression
    only — no shuffle, survives any repartitioning, and a row's split
    never changes as the dataset grows.
    """
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    space = 1_000_000
    bucket = hash_bucket(F.col(key) if isinstance(key, str) else key, space, salt)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = bucket < int(round(cum * space))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", last)


def weighted_mixture(
    df: DataFrame,
    key: str | Column,
    stratum_col: str,
    rates: dict[str, float],
) -> DataFrame:
    """Curriculum-style source mixing: keep each stratum (source,
    language, quality tier, ...) at its own sampling rate. Per-row
    hash test — zero shuffles, deterministic, and up/down-weighting a
    stratum never changes *which* rows of the others are kept (each
    stratum's keep set is a prefix of the same hash order)."""
    space = 1_000_000
    bucket = hash_bucket(F.col(key) if isinstance(key, str) else key, space, "mix")
    thr = None
    for name, rate in rates.items():
        cut = int(round(rate * space))
        thr = (
            F.when(F.col(stratum_col) == name, cut)
            if thr is None
            else thr.when(F.col(stratum_col) == name, cut)
        )
    thr = F.lit(0) if thr is None else thr.otherwise(0)
    return df.filter(bucket < thr)


def stratified_sample_exact(
    df: DataFrame,
    strata: list[str],
    k: int,
    key: str | Column,
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, picked by hash
    order (uniform, deterministic, engine-portable; key tiebreak for
    full determinism). One window shuffle on the strata — top-k per
    group plans as WindowGroupLimit, so each map task keeps only k
    rows per stratum before the exchange."""
    from pyspark.sql import Window

    kc = F.col(key) if isinstance(key, str) else key
    space = 1_000_000_000
    w = Window.partitionBy(*strata).orderBy(hash_bucket(kc, space, "strat").asc(), kc.asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def per_key_cap(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column | str],
    n: int,
) -> DataFrame:
    """At most ``n`` rows per key group, ranked by ``order_by`` — the
    per-domain-cap primitive of web-corpus curation (and the general
    "keep best n per group" operator). Plans as WindowGroupLimit:
    each map task truncates its groups to n rows BEFORE the single
    window exchange, so the shuffle moves at most n·|groups| rows no
    matter how skewed the corpus."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def temperature_mixture(
    df: DataFrame,
    key: str | Column,
    stratum_col: str,
    target_total: int,
) -> DataFrame:
    """Temperature-weighted source mixture (the multilingual/
    multi-source LM sampling rule): per-stratum quotas ∝ √n_s (the
    temperature alpha = 0.5), filled in stable hash order.

    alpha=1 would reproduce natural proportions, alpha=0 uniform-per-
    stratum; alpha=0.5 up-weights small sources the standard way.
    Quota_s = floor(target_total · √n_s / Σ_t √n_t); rows
    are ranked per stratum by (md5-bucket, key) — the same stable
    hash order every sampler here uses, so regrowing a stratum only
    appends to its keep set's order, and quotas from a different
    ``target_total`` nest.

    Plan: one count aggregate (strata-sized), broadcast back, one
    window rank per stratum. The rank is a dynamic per-group limit, so
    it plans as a plain Window (not WindowGroupLimit) — at extreme
    skew cap the stratum first with ``per_key_cap`` or use
    ``weighted_mixture`` with precomputed rates (both prefix-
    compatible with this order).

    Portability: weights are snapped to integer micro-units
    (round(1e6·√n) — sqrt is a correctly-rounded
    IEEE op, so the per-stratum rounding is bit-identical on any
    engine) and quotas use pure integer division — no float
    accumulation anywhere, same rule an ANSI oracle can replay
    (engine determinism rule: never let float summation order into a
    result).
    """
    from pyspark.sql import Window

    kc = F.col(key) if isinstance(key, str) else key
    counts = (
        df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__wi", F.round(F.sqrt(F.col("__n").cast("double")) * 1_000_000).cast("long"))
    )
    tot = counts.agg(F.sum("__wi").alias("__twi"))
    quotas = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            stratum_col,
            F.expr(f"({int(target_total)} * __wi) div __twi").cast("long").alias("__quota"),
        )
    )
    space = 1_000_000_000
    rank_w = Window.partitionBy(stratum_col).orderBy(
        hash_bucket(kc, space, "temp").asc(), kc.asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(rank_w))
        .join(F.broadcast(quotas), stratum_col)
        .filter(F.col("__rn") <= F.col("__quota"))
        .drop("__rn", "__quota")
    )


def weighted_sample_aes(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k items
    (Efraimidis–Spirakis A-ES): each row draws a stable uniform
    ``u = (md5(key|aes) + 0.5) / 2^60`` and races with priority
    ``-ln(u) / w`` — the k SMALLEST priorities are an exact weighted
    sample without replacement (the exponential-race formulation of
    A-ES; u^(1/w) top-k is the same order reversed).

    Determinism & scale: the draw is a pure per-row expression (no RNG
    state, no seed-plus-partitioning dependence like ``df.sample``),
    so the chosen set is stable under repartitioning and re-reads, and
    identical on any engine (md5-portable). Selection is
    ``orderBy(...).limit(k)`` — Spark plans TakeOrderedAndProject: a
    size-k heap per partition, then a k·partitions merge on the
    driver; no global sort, no shuffle of the data. Priorities are
    rounded to integer NANO-units for the ordering (ties broken by
    key), so the boundary between rank k and k+1 never depends on a
    last-ulp ``ln`` difference between engines — same trick as the
    micro-nat costs in ranking.unigram_logprob_score.

    Weights MUST be > 0 and non-null — enforced at runtime (the batch
    fails), because a zero/negative/null weight would otherwise yield
    an Inf/NaN/null priority that Spark casts SILENTLY (Inf →
    Long.MAX_VALUE, NaN → null), quietly corrupting the sample and
    diverging from any oracle replay instead of erroring.
    """
    u = (md5_long(F.concat(F.col(key).cast("string"), F.lit("|aes"))) + F.lit(0.5)) / F.lit(
        float(1 << 60)
    )
    w = F.col(weight_col).cast("double")
    w_ok = F.when(
        w.isNull() | (w <= 0) | F.isnan(w) | (w == float("inf")),
        F.raise_error(
            F.concat(
                F.lit(
                    f"weighted_sample_aes: {weight_col} must be a positive "
                    "finite number, got "
                ),
                F.coalesce(F.col(weight_col).cast("string"), F.lit("NULL")),
                F.lit(" for key "),
                F.coalesce(F.col(key).cast("string"), F.lit("NULL")),
            )
        ).cast("double"),
    ).otherwise(w)
    nano = F.round(-F.log(u) / w_ok * 1_000_000_000).cast("bigint")
    return (
        df.withColumn("score_nano", nano)
        .orderBy(F.col("score_nano").asc(), F.col(key).asc())
        .limit(k)
    )


def budget_mixture_allocation(
    df: DataFrame,
    source_col: str,
    tokens_col: str,
    quality_col: str,
    budget: int,
) -> DataFrame:
    """Budget-constrained corpus selection — the fractional-knapsack
    step of data-mixture design: given per-source token inventories
    and quality scores, fill a token ``budget`` greedily from the
    best-quality source down (optimal for the fractional problem — a
    theorem, not a heuristic), taking the boundary source partially.
    The output IS the mixture plan ``weighted_mixture`` then executes.

    Exact integer arithmetic: one source aggregate (inventory +
    quality), one rank window ordered by (quality desc, source asc),
    a running token prefix, and per-source
    ``take = clamp(budget − prefix_before, 0, tokens)``. Returns
    ``(source, tokens, quality_micro, take_tokens, take_micro)`` with
    ``take_micro`` the within-source sampling rate the executor
    needs. One data-sized aggregate + source-sized window."""
    if budget < 0:
        raise ValueError(f"budget_mixture_allocation: budget must be >= 0")
    from pyspark.sql import Window

    src = df.select(
        F.col(source_col).cast("string").alias("source"),
        F.col(tokens_col).cast("long").alias("__tk"),
        F.col(quality_col).cast("long").alias("__q"),
    ).filter(F.col("source").isNotNull() & F.col("__tk").isNotNull())
    agg = src.groupBy("source").agg(
        F.sum("__tk").cast("long").alias("tokens"),
        # inventory-weighted mean quality in micro units
        F.expr(
            "((sum(__q * __tk) * 1000000) - ((((sum(__q * __tk) * 1000000)"
            " % greatest(sum(__tk), 1)) + greatest(sum(__tk), 1))"
            " % greatest(sum(__tk), 1))) div greatest(sum(__tk), 1)"
        )
        .cast("long")
        .alias("quality_micro"),
    )
    w = Window.orderBy(F.col("quality_micro").desc(), F.col("source").asc())
    ranked = agg.withColumn(
        "__before",
        F.coalesce(
            F.sum("tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    )
    take = F.greatest(
        F.lit(0),
        F.least(F.col("tokens"), F.lit(int(budget)) - F.col("__before")),
    ).cast("long")
    return (
        ranked.withColumn("take_tokens", take)
        .select(
            "source",
            "tokens",
            "quality_micro",
            "take_tokens",
            F.expr(
                "((take_tokens * 1000000) - ((((take_tokens * 1000000)"
                " % greatest(tokens, 1)) + greatest(tokens, 1))"
                " % greatest(tokens, 1))) div greatest(tokens, 1)"
            )
            .cast("long")
            .alias("take_micro"),
        )
        .orderBy(F.col("quality_micro").desc(), F.col("source").asc())
    )


def importance_weights(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    x_cols: list[str],
    iterations: int = 8,
    lr: float = 0.5,
    clip_milli: int = 20,
) -> DataFrame:
    """Density-ratio importance weights by discriminative
    classification (the DSIR/domain-reweighting recipe): train a
    logistic domain classifier P(target | x) on cheap integer
    features, and weight each example by the odds e/(1−e) — up-weights
    data that LOOKS like the target domain, the standard lever for
    re-mixing a web-scale corpus toward a quality/domain target
    without per-example human labels.

    ``domain_col`` must be 0/1 (1 = target domain); features follow
    logreg's contract (integer, bounded, first column usually a bias
    the caller adds — here a bias is prepended automatically). The
    classifier is ``logistic_regression_fit`` (exact-integer GD
    trajectory), e is the 9-decimal-snapped σ clipped to
    [clip_milli, 1000−clip_milli] milli-units (an unclipped e→1
    example would get unbounded weight), and the returned
    ``weight_micro = round(e/(1−e)·1e6)`` is deterministic on every
    engine — an oracle replays training and scoring verbatim.

    Returns (id, weight_micro). One cached 2+f-column projection,
    ``iterations`` tree-reduced aggregates, then a map-only scoring
    pass — nothing row-wise is ever shuffled.
    """
    from owl_etl_spark.operators.logreg import logistic_regression_fit

    work = seal(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(domain_col).cast("long").alias("__y"),
            F.lit(1).cast("long").alias("__x0"),
            *[F.col(c).cast("long").alias(f"__x{j + 1}") for j, c in enumerate(x_cols)],
        )
    )
    feats = ["__x0"] + [f"__x{j + 1}" for j in range(len(x_cols))]
    w = logistic_regression_fit(work, "__y", feats, iterations=iterations, lr=lr)
    z = sum(
        (F.lit(w[j]) * F.col(feats[j])).cast("double") for j in range(len(feats))
    ) / F.lit(1_000_000.0)
    e_raw = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
    lo = clip_milli / 1000.0
    e = F.least(F.greatest(e_raw, F.lit(lo)), F.lit(1.0 - lo))
    return work.select(
        F.col("__id").alias(id_col),
        F.round(e / (F.lit(1.0) - e) * F.lit(1_000_000.0)).cast("long").alias("weight_micro"),
    )


def neyman_allocation(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    budget: int,
) -> DataFrame:
    """Variance-optimal stratified sampling allocation (Neyman): give
    stratum k the share n_k = budget · N_k·σ_k / Σ_j N_j·σ_j — the
    allocation that minimizes the variance of the stratified mean at a
    fixed total sample budget, the planning step before
    ``stratified_sample``/q78 draws the rows (uniform-per-stratum
    allocation wastes budget on flat strata; Neyman spends it where
    the variance lives).

    Exactness: per-stratum moments are exact BIGINTs (Σv, Σv² of
    integer-unit values — the q59 discipline), σ_k = sqrt(var) is one
    deterministic IEEE op, and each N_k·σ_k term snaps to an integer
    MILLI-unit weight before the cross-strata total — so the
    allocation table is engine-exact. Rounded allocations may sum to
    budget ± #strata (standard; the caller's draw step treats them as
    targets). Returns (keys…, n_rows, sigma_micro, weight_milli,
    alloc).

    One map-side-combined aggregate over the rows; everything after is
    arithmetic on the strata frame (broadcast-sized).
    """
    agg = (
        df.select(*keys, F.col(value_col).cast("long").alias("__v"))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("__v").cast("long").alias("__s"),
            F.sum(F.col("__v") * F.col("__v")).cast("long").alias("__s2"),
        )
    )
    mean = F.col("__s").cast("double") / F.col("n_rows").cast("double")
    var = F.col("__s2").cast("double") / F.col("n_rows").cast("double") - mean * mean
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    w = agg.withColumn(
        "__w",
        F.round(F.col("n_rows").cast("double") * sigma * 1000).cast("long"),
    ).withColumn("sigma_micro", F.round(sigma * 1_000_000).cast("long"))
    tot = w.agg(F.sum("__w").cast("long").alias("__tot"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            *keys,
            "n_rows",
            "sigma_micro",
            F.col("__w").alias("weight_milli"),
            F.when(
                F.col("__tot") > 0,
                F.round(
                    F.lit(float(int(budget)))
                    * F.col("__w").cast("double")
                    / F.col("__tot").cast("double")
                ).cast("long"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("alloc"),
        )
    )


def purged_time_folds(
    df: DataFrame,
    day_col: str,
    k: int = 5,
    embargo_days: int = 7,
) -> DataFrame:
    """Purged time-series K-fold assignment — the leakage-free
    backtesting split (López de Prado's purged CV): the time axis is
    cut into ``k`` equal spans, and every row within ``embargo_days``
    of a DIFFERENT fold is PURGED (fold −1) so that
    serially-correlated features can't leak across the train/test
    boundary — the failure mode plain ``hash_split`` K-folds
    guarantee on time-series data.

    Exact integer rule (oracle-replayable, no float boundaries):
    fold(d) = (d − min)·k div (max − min + 1), and a row is purged iff
    fold(clamp(d ± embargo)) differs from fold(d) — "an embargo-sized
    step in either direction crosses a boundary". One min/max pass
    (two driver scalars), then a map-side expression; the returned
    frame aggregates per fold: (fold, n_rows, min_day, max_day) with
    purged rows under fold −1.
    """
    if k < 2:
        raise ValueError("purged_time_folds: need k >= 2")
    b = df.agg(
        F.min(F.col(day_col).cast("long")).alias("mn"),
        F.max(F.col(day_col).cast("long")).alias("mx"),
    ).collect()[0]
    mn, mx = b["mn"], b["mx"]
    if mn is None:
        raise ValueError("purged_time_folds: empty input")
    span = mx - mn + 1
    e = int(embargo_days)

    def fold_at(expr: str) -> str:
        clamped = f"least({mx}, greatest({mn}, {expr}))"
        return f"((({clamped}) - {mn}) * {k} div {span})"

    d = f"CAST({day_col} AS BIGINT)"
    fold = fold_at(d)
    purged = (
        f"({fold_at(f'{d} + {e}')} <> ({fold})) OR ({fold_at(f'{d} - {e}')} <> ({fold}))"
    )
    assigned = df.select(
        F.expr(
            f"CASE WHEN {purged} THEN CAST(-1 AS BIGINT) ELSE CAST({fold} AS BIGINT) END"
        ).alias("fold"),
        F.col(day_col).cast("long").alias("__d"),
    )
    return assigned.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("__d").alias("min_day"),
        F.max("__d").alias("max_day"),
    )
