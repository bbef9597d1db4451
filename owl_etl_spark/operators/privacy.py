"""Privacy gates: k-anonymity measurement and suppression.

Complement of the PII redaction surface (functions/text.py, q61):
redaction scrubs direct identifiers; k-anonymity bounds RE-identification
through QUASI-identifiers — combinations like (nation, segment,
birth-year) that are individually harmless but jointly unique. A
release is k-anonymous when every quasi-identifier combination is
shared by ≥ k rows; the standard pipeline gate before publishing a
training extract or analytics cut.

Both operators are one exact groupBy on the quasi columns (map-side
combined — the group count is bounded by the quasi-value cross
product, not the data) plus, for suppression, one broadcast-able
semi-join of the at-risk combinations back onto the rows. No
approximation: an UNDER-counted group size would leak rows, so unlike
the sketch family this gate must stay exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymity_report(df: DataFrame, quasi_cols: list[str], k: int = 5) -> DataFrame:
    """One row per quasi-identifier combination: ``n`` (exact member
    count, nulls grouped as their own value — a null combo is just as
    linkable) and ``at_risk`` (n < k)."""
    if k < 2:
        raise ValueError(f"k_anonymity_report: need k >= 2, got {k}")
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).withColumn("at_risk", F.col("n") < k)


def k_anonymity_suppress(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """The suppression release: rows whose quasi-combination has ≥ k
    members (the minimal-distortion baseline — generalization ladders
    trade less data loss for more machinery: see
    ``k_anonymity_generalize``). Plans as an aggregate + ANTI-join
    against the AT-RISK combination list: in a publishable dataset
    almost every combination is safe, so the at-risk list is the tiny
    side — anti-joining it broadcasts, where semi-joining the safe
    list would shuffle-hash against a list nearly as large as the
    groupBy output itself (r5 VERDICT finding)."""
    at_risk = (
        k_anonymity_report(df, quasi_cols, k)
        .filter(F.col("at_risk"))
        .select(*quasi_cols)
    )
    # null-SAFE equality: a name-list join misses null quasi values
    # (null != null), which under an ANTI join would LEAK every
    # null-bearing at-risk combo into the release — the exact
    # asymmetry a privacy gate must not have
    cond = None
    for c in quasi_cols:
        term = df[c].eqNullSafe(at_risk[c])
        cond = term if cond is None else cond & term
    return df.join(F.broadcast(at_risk), cond, "left_anti")


def generalization_report(df: DataFrame, ladders: list[dict]) -> DataFrame:
    """One row per generalization level: ``(gen_level, n_combos,
    n_at_risk_combos, n_rows_suppressed, n_rows_total)``.

    ``ladders[i]`` maps output column name → Column expression giving
    the quasi-identifier at level ``i`` (level 0 = finest; every level
    must bind the SAME column names). The report says what each rung
    of the ladder costs: how many rows suppression would still drop
    after coarsening to that level — the number
    ``k_anonymity_generalize`` minimizes against a loss budget.

    Plan: one exact groupBy per level over the coarsened columns
    (map-side combined; the group count shrinks as levels coarsen) and
    a 1-row aggregate each — L tiny jobs, no joins.
    """
    if not ladders:
        raise ValueError("generalization_report: ladders must be non-empty")
    names = sorted(ladders[0])
    for i, lvl in enumerate(ladders):
        if sorted(lvl) != names:
            raise ValueError(
                f"generalization_report: level {i} binds {sorted(lvl)}, "
                f"level 0 binds {names} — every level must bind the same columns"
            )
    rows = []
    for i, lvl in enumerate(ladders):
        combos = df.select(
            *[lvl[n].alias(n) for n in names]
        ).groupBy(*names).agg(F.count(F.lit(1)).cast("long").alias("n"))
        rows.append(
            combos.agg(
                F.lit(i).cast("int").alias("gen_level"),
                F.count(F.lit(1)).cast("long").alias("n_combos"),
                F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
                .cast("long")
                .alias("n_at_risk_combos"),
                F.coalesce(F.sum(F.when(F.col("n") < 5, F.col("n"))), F.lit(0))
                .cast("long")
                .alias("n_rows_suppressed"),
                F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows_total"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def k_anonymity_generalize(
    df: DataFrame,
    ladders: list[dict],
    max_suppressed_rows: int = 0,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Generalize-then-suppress release: coarsen the quasi identifiers
    to the LOWEST ladder level whose residual suppression loss is
    within ``max_suppressed_rows``, then suppress what remains at-risk
    — less data loss than suppression alone (rows survive with
    coarser values instead of being dropped), the standard
    k-anonymity trade (global recoding + record suppression).

    Returns the released rows: ``keep_cols`` (default: none) + the
    generalized quasi columns + ``gen_level`` (the chosen level, same
    for every row — global recoding, so group sizes are what the
    report counted). If no level fits the budget the COARSEST level is
    used (maximum-protection fallback; its residual at-risk rows are
    still suppressed, so the k guarantee always holds).

    Plan: the level report is L tiny aggregates collected to the
    driver (a config-sized decision, like cutpoints), then ONE
    groupBy + broadcast anti-join at the chosen level.
    """
    rep = {
        r["gen_level"]: r["n_rows_suppressed"]
        for r in generalization_report(df, ladders).collect()
    }
    chosen = len(ladders) - 1
    for i in range(len(ladders)):
        if rep[i] <= int(max_suppressed_rows):
            chosen = i
            break
    lvl = ladders[chosen]
    names = sorted(lvl)
    keep = list(keep_cols or [])
    gen = df.select(
        *[F.col(c) for c in keep],
        *[lvl[n].alias(n) for n in names],
    )
    released = k_anonymity_suppress(gen, names, 5)
    return released.withColumn("gen_level", F.lit(chosen).cast("int"))


def l_diversity_report(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """One row per quasi-identifier combination with its SENSITIVE
    diversity: k-anonymity bounds who you might be; l-diversity bounds
    what an attacker LEARNS once they've narrowed you to a group — a
    100-member group (k-safe) whose members all share one diagnosis
    still discloses the diagnosis. A release is l-diverse when every
    quasi group contains ≥ l distinct sensitive values.

    Returns ``(quasi..., n, n_sensitive, at_risk)`` — n_sensitive the
    EXACT distinct count of non-null sensitive values (sketches would
    leak, the module's rule; sensitive nulls don't count toward
    diversity — an absent value discloses nothing) and
    at_risk = n_sensitive < l. Feed at-risk combos to the same
    broadcast ANTI-join suppression as ``k_anonymity_suppress`` (or
    coarsen via the generalization ladder).

    Plan: ONE exact groupBy on the quasi columns with a distinct-count
    aggregate — Catalyst expands to the standard two-phase
    partial-distinct plan, still bounded by quasi×sensitive
    cardinality, never rows.
    """
    if l < 2:
        raise ValueError(f"l_diversity_report: need l >= 2, got {l}")
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_distinct(F.col(sensitive_col)).cast("long").alias("n_sensitive"),
        )
        .withColumn("at_risk", F.col("n_sensitive") < l)
    )


def pseudonymize(
    df: DataFrame,
    col: str,
    out_col: str,
    salt: str = "pseudo",
) -> DataFrame:
    """Deterministic format-preserving pseudonymization — the privacy
    family's third tool next to k-anonymity suppression (q148) and
    generalization/l-diversity (q159/q238): replace an identifying
    string with a token that (a) is STABLE — the same input always
    maps to the same pseudonym, so joins and group-bys still work
    across tables and runs (referential integrity, the property naive
    row-salted hashing destroys), and (b) PRESERVES FORMAT — digits
    stay digits, letters stay letters with case, everything else
    passes through — so length checks, regex validators, and fixed-
    width parsers downstream keep working.

    Each character position draws from md5(value ‖ salt ‖ position):
    digit → '0'+h%10, upper → 'A'+h%26, lower → 'a'+h%26. This is
    hash-based masking, NOT encryption — re-identification resistance
    rests on the salt's secrecy and the value space's entropy (stated
    plainly; use real FPE with managed keys when an adversary model
    demands it). Pure per-row expression: no shuffle, no UDF, no
    state; replays in SQL (md5-portable, chr/char on both engines)."""
    v = F.col(col).cast("string")
    mapped = F.expr(
        f"""array_join(transform(sequence(1, length({col})), i ->
          CASE
            WHEN substring({col}, i, 1) BETWEEN '0' AND '9' THEN
              char(ascii('0') + pmod(CAST(conv(substring(md5(concat({col}, '#{salt}#', CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT), 10))
            WHEN substring({col}, i, 1) BETWEEN 'A' AND 'Z' THEN
              char(ascii('A') + pmod(CAST(conv(substring(md5(concat({col}, '#{salt}#', CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT), 26))
            WHEN substring({col}, i, 1) BETWEEN 'a' AND 'z' THEN
              char(ascii('a') + pmod(CAST(conv(substring(md5(concat({col}, '#{salt}#', CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT), 26))
            ELSE substring({col}, i, 1)
          END), '')"""
    )
    return df.withColumn(out_col, F.when(v.isNotNull(), mapped))


def mondrian_partitions(
    df: DataFrame,
    x_col: str,
    y_col: str,
    tie_col: str,
    k: int = 25,
    depth: int = 4,
) -> DataFrame:
    """Mondrian multidimensional k-anonymity partitioning (LeFevre et
    al. 2006) — the adaptive generalization the fixed ladder (q159)
    can't do: recursively split the quasi-identifier space on the
    WIDER attribute at its median, but only while both halves keep
    ≥ k rows; leaves become the generalization cells. Output one row
    per leaf: ``(gid, n, min_x, max_x, min_y, max_y)`` — publish the
    cell ranges instead of the values and every row hides among ≥ k
    peers with utility far above a one-size ladder.

    Deterministic and oracle-replayable: a FIXED ``depth`` of split
    levels (not recursion-to-exhaustion — the unrolled levels are the
    replay contract, like q125's iterations); the split attribute is
    x when range_x ≥ range_y (ties → x); the median is the exact
    (n+1) div 2 order statistic under (value, tie) total order —
    integer rank arithmetic (the q261 rule); a level that would leave
    either half under k leaves the cell uncut. Rows with the median
    value go LEFT (the ≤ convention).

    Plan per level: two rank windows keyed by the current cell id +
    one cell-stats aggregate — shuffles keyed on cells, data never
    leaves its cell. 2^depth bounded cells; k bounds leaf size from
    below."""
    if k < 2:
        raise ValueError(f"mondrian_partitions: k must be >= 2, got {k}")
    from pyspark.sql import Window

    d = df.select(
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
        F.col(tie_col).alias("__t"),
        F.lit("r").alias("__gid"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    for lvl in range(int(depth)):
        # One window pass per level, all partitioned by the current
        # cell (r12, guide §2.4): the median, the left-flag counts and
        # the split decision are window aggregates over the SAME
        # partitioning — the old form joined the ranked frame against a
        # filtered copy of itself (median) and against a groupBy of the
        # result (sizes), which re-computed the rank windows up to 4x
        # per level and added two joins + one extra shuffle per level.
        # Same medians, same flags, same gids — integer arithmetic only.
        wx = Window.partitionBy("__gid").orderBy(F.col("__x").asc(), F.col("__t").asc())
        wy = Window.partitionBy("__gid").orderBy(F.col("__y").asc(), F.col("__t").asc())
        wg = Window.partitionBy("__gid")
        ranked = (
            d.withColumn("__rx", F.row_number().over(wx))
            .withColumn("__ry", F.row_number().over(wy))
            .withColumn("__n", F.count(F.lit(1)).over(wg))
            .withColumn("__rngx", (F.max("__x").over(wg) - F.min("__x").over(wg)))
            .withColumn("__rngy", (F.max("__y").over(wg) - F.min("__y").over(wg)))
            .withColumn("__usex", F.col("__rngx") >= F.col("__rngy"))
            .withColumn("__medrank", F.expr("(__n + 1) div 2"))
        )
        # exactly one row per cell has rank == medrank on the chosen
        # attribute; max(when ...) over the cell broadcasts its value
        with_med = ranked.withColumn(
            "__med",
            F.max(
                F.when(
                    F.when(F.col("__usex"), F.col("__rx")).otherwise(F.col("__ry"))
                    == F.col("__medrank"),
                    F.when(F.col("__usex"), F.col("__x")).otherwise(F.col("__y")),
                )
            ).over(wg),
        ).withColumn(
            "__left",
            F.when(F.col("__usex"), F.col("__x") <= F.col("__med")).otherwise(
                F.col("__y") <= F.col("__med")
            ),
        )
        d = (
            with_med.withColumn(
                "__nl", F.sum(F.col("__left").cast("long")).over(wg)
            )
            .select(
                "__x",
                "__y",
                "__t",
                F.when(
                    (F.col("__nl") >= k) & ((F.col("__n") - F.col("__nl")) >= k),
                    F.concat(
                        F.col("__gid"),
                        F.when(F.col("__left"), F.lit("0")).otherwise(F.lit("1")),
                    ),
                )
                .otherwise(F.col("__gid"))
                .alias("__gid"),
            )
        )
    return (
        d.groupBy(F.col("__gid").alias("gid"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("__x").cast("long").alias("min_x"),
            F.max("__x").cast("long").alias("max_x"),
            F.min("__y").cast("long").alias("min_y"),
            F.max("__y").cast("long").alias("max_y"),
        )
        .orderBy("gid")
    )
