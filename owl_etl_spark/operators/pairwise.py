"""Bradley-Terry strength ranking from pairwise outcomes — the batch
preference-learning primitive (RLHF preference data, A/B taste tests,
"which supplier ships faster" tournaments) fitted with the classic MM
update, re-expressed in the engine's exact-integer discipline so a
fixed-iteration run is oracle-replayable.

Model: P(i beats j) = p_i / (p_i + p_j). MM iteration (Hunter 2004):

    p_i' = W_i / Σ_{j≠i} n_ij_total / (p_i + p_j)

with W_i = total wins of i, n_ij_total = games between i and j.
Integer recurrence (strengths r in MICRO units, every division the
exact-multiple floor-div, so DuckDB ``//`` replays Spark ``div``):

    term_ij  = fd(n_ij_total · 1e9, max(r_i + r_j, 1))
    denom_i  = fd(Σ_j term_ij, 1e3)            (≥ W_i/2 — see below)
    p_raw_i  = fd(W_i · 1e9, max(denom_i, 1))
    r_i'     = fd(p_raw_i · 1e6, max_i p_raw)  (pivot renorm, like HITS)

Overflow headroom is ARGUED, not hoped: n_ij_total ≥ n_ij ≥ ... gives
denom_i ≥ term_ii' ≥ W_i·500/1e3 after the 1e3 downshift, hence
p_raw ≤ 2·10⁹ and p_raw·1e6 ≤ 2·10¹⁵ ≪ 2⁶³; the input guard
W_i ≤ 10¹² keeps W·1e9 safe. Quantization: terms carry ≥ n·500
quanta, so the integer iterate tracks the real MM trajectory to
~0.2% per round — the CONTRACT is the integer recurrence itself
(the q125 pagerank convention), which both engines replay bit-for-bit.

Scale shape: games aggregate once to the PAIR list (one shuffle);
every iteration is pairs⋈strengths (strengths are item-sized —
broadcast) + an item-group aggregate + two 1-row broadcast scalars
kept in-plan. Never a matrix, never the raw games after the first
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import bounded_collect, iterate, literal_frame, release, seal

MICRO = 1_000_000


def _fd(x: str, d: str) -> str:
    """Exact-multiple floor division as SQL text: x minus its positive
    mod is a multiple of d (> 0), so trunc-div == floor-div — Spark
    ``div`` and DuckDB ``//`` agree bit-for-bit."""
    return f"(({x}) - (((({x}) % ({d})) + ({d})) % ({d}))) div ({d})"


def bradley_terry_strengths(
    games: DataFrame,
    n_iters: int = 5,
) -> DataFrame:
    """Fit Bradley-Terry strengths from a (winner, loser) outcome
    list; returns ``(item, wins, games, strength_micro)`` — strengths
    pivot-normalized to max = 1e6, exact BIGINTs (see module
    docstring for the integer MM recurrence and its replay contract).
    Self-games raise; items appearing only as losers converge toward
    0 (W_i = 0 forces p_raw = 0 — the MM fixed point for a winless
    item under zero-smoothing, documented rather than smoothed).

    The per-iteration denominator and strength frames are ITEM-sized
    (one row per competitor), but they descend from checkpointed RDDs
    Catalyst has no stats for, so the items⋈denom / items⋈strength
    joins planned as SortMergeJoins — two exchanges plus sorts per
    iteration for dimension-sized tables. They are broadcast (the
    ra/rb rating vectors already were; round 12, guide §3.1)."""

    w, l = F.col("winner").cast("string"), F.col("loser").cast("string")
    g = games.select(w.alias("__w"), l.alias("__l")).withColumn(
        "__w",
        F.when(
            F.col("__w") == F.col("__l"),
            F.raise_error(F.lit("bradley_terry: self-game (winner == loser)")),
        ).otherwise(F.col("__w")),
    )
    # one shuffle: unordered-pair game counts with per-direction wins
    lo = F.least("__w", "__l")
    hi = F.greatest("__w", "__l")
    pairs = seal(
        g.select(
            lo.alias("__a"),
            hi.alias("__b"),
            (F.col("__w") == lo).cast("long").alias("__a_won"),
        )
        .groupBy("__a", "__b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__a_won").cast("long").alias("__wa"),
        )
    )
    # exact driver replay when model-sized (session.bounded_collect)
    rows = bounded_collect(pairs)
    if rows is not None:
        release(pairs)
        prows = [(r[0], r[1], r[2], r[3]) for r in rows]
        wins: dict = {}
        games_d: dict = {}
        for a, b, n, wa in prows:
            wins[a] = wins.get(a, 0) + wa
            wins[b] = wins.get(b, 0) + (n - wa)
            games_d[a] = games_d.get(a, 0) + n
            games_d[b] = games_d.get(b, 0) + n
        for item, wv in wins.items():
            if wv > 10**12:
                raise Exception(
                    "bradley_terry: a win count exceeds 1e12 — the "
                    "documented BIGINT headroom; pre-aggregate or "
                    "shard the tournament"
                )
        r_d = {item: MICRO for item in wins}
        for _ in range(int(n_iters)):
            den: dict = {}
            for a, b, n, _wa in prows:
                t_ab = (n * 1_000_000_000) // max(r_d[a] + r_d[b], 1)
                den[a] = den.get(a, 0) + t_ab
                den[b] = den.get(b, 0) + t_ab
            praw_d = {}
            for item in wins:
                dsmall = den[item] // 1000 if item in den else None
                praw_d[item] = (wins[item] * 1_000_000_000) // max(
                    dsmall if dsmall is not None else 1, 1
                )
            pm = max(max(praw_d.values(), default=0), 1)
            r_d = {item: (p * 1_000_000) // pm for item, p in praw_d.items()}
        return literal_frame(
            games.sparkSession,
            [
                (item, wins[item], games_d[item], r_d[item])
                for item in sorted(wins)
            ],
            "item string, wins bigint, games bigint, strength_micro bigint",
        )
    items = seal(
        pairs.select(F.col("__a").alias("item"), F.col("__wa").alias("__wins"), "__n")
        .unionAll(
            pairs.select(
                F.col("__b").alias("item"),
                (F.col("__n") - F.col("__wa")).alias("__wins"),
                "__n",
            )
        )
        .groupBy("item")
        .agg(
            F.sum("__wins").cast("long").alias("wins"),
            F.sum("__n").cast("long").alias("games"),
        )
        # in-plan headroom guard: W·1e9 must stay inside BIGINT
        .withColumn(
            "wins",
            F.when(
                F.col("wins") > 10**12,
                F.raise_error(
                    F.lit(
                        "bradley_terry: a win count exceeds 1e12 — the "
                        "documented BIGINT headroom; pre-aggregate or "
                        "shard the tournament"
                    )
                ).cast("long"),
            ).otherwise(F.col("wins")),
        )
    )
    # symmetric pair view for the per-item denominator join
    sym = seal(
        pairs.select("__a", "__b", "__n").unionAll(
            pairs.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"), "__n")
        )
    )
    release(pairs)

    def _round(r: DataFrame, _: int) -> DataFrame:
        ra = r.select(F.col("item").alias("__a"), F.col("__r").alias("__ra"))
        rb = r.select(F.col("item").alias("__b"), F.col("__r").alias("__rb"))
        denom = (
            sym.join(F.broadcast(ra), "__a")
            .join(F.broadcast(rb), "__b")
            .select(
                "__a",
                F.expr(
                    _fd("__n * 1000000000", "greatest(__ra + __rb, 1)")
                ).alias("__t"),
            )
            .groupBy("__a")
            .agg(F.sum("__t").cast("long").alias("__den"))
            .select(
                "__a",
                F.expr(_fd("__den", "1000")).cast("long").alias("__dsmall"),
            )
        )
        praw = (
            items.join(F.broadcast(denom), items["item"] == denom["__a"], "left")
            .select(
                "item",
                F.expr(
                    _fd("wins * 1000000000", "greatest(coalesce(__dsmall, 1), 1)")
                )
                .cast("long")
                .alias("__p"),
            )
        )
        pmax = praw.agg(F.greatest(F.max("__p"), F.lit(1)).alias("__pm"))
        return praw.crossJoin(F.broadcast(pmax)).select(
            "item",
            F.expr(_fd("__p * 1000000", "__pm")).cast("long").alias("__r"),
        )

    r = iterate(
        items.select("item", F.lit(MICRO).cast("long").alias("__r")), _round, n_iters, every=2
    )
    return items.join(F.broadcast(r), "item").select(
        "item", "wins", "games", F.col("__r").alias("strength_micro")
    )
