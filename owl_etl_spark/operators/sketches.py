"""Mergeable distinct-count sketches (Apache DataSketches HLL via
Spark built-ins).

The scale pattern: exact COUNT(DISTINCT) over 100 TB needs a full
shuffle of every key occurrence; a sketch needs one pass and a few KB
per group. Crucially HLL sketches are *mergeable*: persist one sketch
per partition/day/month as it lands (the engine's monthly-drop
contract), then answer "distinct over any date range" by unioning
sketch bytes — no rescan of history. Note: a sketch built in one shot
keeps the HIP estimator while a union falls back to the composite
estimator (DataSketches semantics), so incremental and one-shot
estimates agree to within the sketch's error bound, not bit-for-bit.

The reference has no approximate aggregates (SURVEY §2.5 "not
present"); this is part of the engine's beyond-reference surface
(exact forms: q44 distinct-agg; error-bound-tested approx: q53).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import md5_long_seeded


def distinct_sketch(
    df: DataFrame, keys: list[str], value_col: str
) -> DataFrame:
    """One HLL sketch per key group over ``value_col`` (binary column
    ``sketch``). Partial aggregation applies — each map task emits one
    sketch per group, the shuffle moves KBs."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(12)).alias("sketch")
    )


def merge_sketches(df: DataFrame, keys: list[str]) -> DataFrame:
    """Union sketches across a finer partitioning (e.g. per-month →
    per-year): ``hll_union_agg`` merges sketch bytes, never raw data."""
    return df.groupBy(*keys).agg(F.hll_union_agg("sketch").alias("sketch"))


def distinct_overlap_estimate(
    df: DataFrame,
    key_col: str,
    cond_a: Column,
    cond_b: Column,
) -> DataFrame:
    """Audience-overlap estimation via HLL set algebra, ONE pass:
    sketch the keys satisfying ``cond_a`` and ``cond_b`` (null keys
    are skipped by the sketch), union the sketches, and estimate
    |A∩B| = est(A) + est(B) - est(A∪B) (inclusion–exclusion).

    The 100 TB shape: one scan, two lg_k = 12 sketches per map task,
    KBs over the wire — vs the exact form's full shuffle of every
    (key, membership) pair. The intersection estimate inherits error
    from THREE estimates, each with rsd ≈ 1.04/√2^lg_k of its OWN
    cardinality — so the practical error bound scales with |A∪B|, not
    |A∩B|; small overlaps of large sets need a bigger lg_k (or exact
    confirmation on the shortlisted segments). Sketches here are
    mergeable like everything in this module: per-partition/day
    sketches roll up without rescans."""
    sa = F.hll_sketch_agg(F.when(cond_a, F.col(key_col)), F.lit(12))
    sb = F.hll_sketch_agg(F.when(cond_b, F.col(key_col)), F.lit(12))
    return df.agg(sa.alias("__sa"), sb.alias("__sb")).select(
        F.hll_sketch_estimate("__sa").alias("est_a"),
        F.hll_sketch_estimate("__sb").alias("est_b"),
        F.hll_sketch_estimate(F.expr("hll_union(__sa, __sb)")).alias("est_union"),
        (
            F.hll_sketch_estimate("__sa")
            + F.hll_sketch_estimate("__sb")
            - F.hll_sketch_estimate(F.expr("hll_union(__sa, __sb)"))
        ).alias("est_intersection"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch: bounded-memory frequency estimation
# ---------------------------------------------------------------------------

#: Seed base for the CMS hash family (md5-portable — see functions.hashing).
_CMS_SEED_BASE = 7_000


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 4096,
    count_col: str | None = None,
) -> DataFrame:
    """Count-min sketch over ``key_col`` as a ``(row, cell, count)``
    table of at most ``depth × width`` rows.

    The 100 TB shape: exact per-key counts of a heavy-tailed key (words,
    URLs, user agents) shuffle one partial per DISTINCT key per map
    task — vocabulary-sized state. The CMS caps state at depth×width
    cells **per map task and in total**, independent of vocabulary:
    each occurrence increments ``depth`` cells (``cell_i =
    md5(key#seed_i) mod width``), partial aggregation collapses the
    explode fan-out map-side, and the shuffled sketch is KBs. Sketches
    are mergeable by cell-wise addition (same ``groupBy(row, cell).
    sum`` that builds them merges per-day sketches), so monthly drops
    accumulate without rescans — the same contract as the HLL family
    above.

    Estimates are biased UP only: ``est(k) = min_i cells[i][h_i(k)]``
    over-counts by colliding mass, never under-counts — the guarantee
    q113's gate checks exactly, plus a collision-mass bound that holds
    with probability ≥ 1 - (1/slack)^depth per key (independent rows).

    ``count_col``: pre-aggregated weights (e.g. a (word, n) table)
    instead of one occurrence per row.
    """
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    F.pmod(
                        md5_long_seeded(
                            F.col(key_col).cast("string"), _CMS_SEED_BASE + i
                        ),
                        F.lit(width),
                    ).alias("cell"),
                )
                for i in range(depth)
            ]
        )
    )
    weight = F.lit(1) if count_col is None else F.col(count_col)
    return (
        df.select(cells.alias("rc"), weight.cast("long").alias("__w"))
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"))
        .agg(F.sum("__w").alias("count"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 4096,
) -> DataFrame:
    """Frequency estimates for every key in ``keys`` against a sketch
    built by :func:`cms_build` (same depth/width/seeds). Each key probes
    its 4 cells (depth 4) via a join against the ≤ depth×width-row sketch
    — broadcast, so estimation is map-only over the candidate keys. A
    key hashing to an untouched cell estimates 0 (coalesce), so probing
    never-seen keys is safe."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(
                            md5_long_seeded(
                                F.col(key_col).cast("string"), _CMS_SEED_BASE + i
                            ),
                            F.lit(width),
                        ).alias("cell"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("rc"),
    ).select(key_col, F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"))
    joined = probes.join(F.broadcast(sketch), ["row", "cell"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("count"), F.lit(0))).alias("est")
    )


def cms_inner_product(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
) -> DataFrame:
    """Equi-join SIZE estimation from two count-min sketches built with
    the same (depth, width, seeds): |A ⋈_k B| = Σ_k cntA(k)·cntB(k) is
    estimated by min over rows of Σ_cell a[cell]·b[cell] — the classic
    CMS inner-product estimator, biased UP only (collisions add
    non-negative cross terms; the min over the 4 independent rows
    trims them).

    Why it matters at 100 TB: the estimate prices a join BEFORE running
    it (pick broadcast vs shuffle, veto a runaway key blow-up) from two
    KB-sized sketches built in one pass each — possibly long ago, since
    sketches merge across partitions/days (see cms_build). Returns one
    row: (est_join_size BIGINT). Exact arithmetic: integer cell counts,
    integer products/sums — engine-exact for the oracle.

    A sketch row with NO overlapping cells has true dot product 0 and
    MUST participate in the min (otherwise disjoint tables estimate
    NULL and any zero-dot row silently inflates the estimate): the
    per-row dots left-join a dense 0..3 spine and coalesce to 0."""
    spark = sketch_a.sparkSession
    a = sketch_a.select("row", "cell", F.col("count").alias("__a"))
    b = sketch_b.select("row", "cell", F.col("count").alias("__b"))
    per_row = (
        a.join(b, ["row", "cell"])
        .groupBy("row")
        .agg(F.sum(F.col("__a") * F.col("__b")).alias("__dot"))
    )
    spine = spark.range(4).select(F.col("id").cast("int").alias("row"))
    dense = spine.join(per_row, "row", "left").select(
        F.coalesce(F.col("__dot"), F.lit(0)).alias("__dot")
    )
    return dense.agg(F.min("__dot").cast("long").alias("est_join_size"))


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters — deterministic, mergeable, self-certifying
# ---------------------------------------------------------------------------


class MisraGries:
    """Classic k-counter frequency summary. Invariant carried as data:
    for every item c, ``counter[c] <= true[c] <= counter[c] + dec``
    where ``dec`` is the TOTAL decrement applied so far (each
    decrement step subtracts 1 from all k+1 involved items at once,
    so a single scalar certifies every counter — the Misra-Gries
    lemma; dec <= n/(k+1)). Items absent from the summary have
    ``true <= dec``. Merging (Agarwal et al., Mergeable Summaries):
    add counter maps, then subtract the (k+1)-th largest count from
    all and drop non-positives — the certified ``dec`` values ADD
    plus the merge's own subtraction."""

    def __init__(self, k: int = 64):
        if k < 1:
            raise ValueError(f"MisraGries: k must be >= 1, got {k}")
        self.k = int(k)
        self.counts: dict = {}
        self.n = 0
        self.dec = 0

    def update_many(self, values) -> None:
        c = self.counts
        k = self.k
        for v in values:
            self.n += 1
            if v in c:
                c[v] += 1
            elif len(c) < k:
                c[v] = 1
            else:
                # decrement-all step: one unit off every counter AND
                # the incoming item (which never materializes)
                self.dec += 1
                dead = []
                for key in c:
                    c[key] -= 1
                    if c[key] == 0:
                        dead.append(key)
                for key in dead:
                    del c[key]

    def merge(self, other: "MisraGries") -> "MisraGries":
        if other.k != self.k:
            raise ValueError(f"MisraGries merge: k mismatch {self.k} vs {other.k}")
        for v, cnt in other.counts.items():
            self.counts[v] = self.counts.get(v, 0) + cnt
        self.n += other.n
        self.dec += other.dec
        if len(self.counts) > self.k:
            # subtract the (k+1)-th largest; survivors stay certified
            # because the subtraction adds to dec like a decrement run
            kth = sorted(self.counts.values(), reverse=True)[self.k]
            self.dec += kth
            self.counts = {
                v: c - kth for v, c in self.counts.items() if c - kth > 0
            }
        return self


def misra_gries_partition_sketches(
    df: DataFrame, value_col: str, k: int = 64
) -> DataFrame:
    """One Misra-Gries summary row per partition (``mapInPandas`` —
    the declared sketch boundary, rows never shuffle): ``(n, dec,
    k, items, counts)``. NULLs are skipped."""
    import pandas as pd

    kk = int(k)

    def build(batches):
        sk = MisraGries(kk)
        for pdf in batches:
            col = pdf[value_col]
            sk.update_many(col[col.notna()].astype(str).tolist())
        if sk.n == 0:
            return
        items = sorted(sk.counts)
        yield pd.DataFrame(
            {
                "n": [sk.n],
                "dec": [sk.dec],
                "k": [sk.k],
                "items": [items],
                "counts": [[sk.counts[i] for i in items]],
            }
        )

    return df.select(F.col(value_col).cast("string").alias(value_col)).mapInPandas(
        build, "n bigint, dec bigint, k bigint, items array<string>, counts array<bigint>"
    )


def misra_gries_merge_rows(rows) -> MisraGries:
    """Driver-side merge of collected summary rows (partition-count
    rows, KBs each). Rows merge in sorted order so the result is
    independent of collect order."""
    rows = sorted(rows, key=lambda r: (r["n"], r["items"]))
    if not rows:
        raise ValueError("misra_gries_merge_rows: no sketches to merge")
    out = None
    for r in rows:
        sk = MisraGries(int(r["k"]))
        sk.n = int(r["n"])
        sk.dec = int(r["dec"])
        sk.counts = dict(zip(list(r["items"]), [int(c) for c in r["counts"]]))
        out = sk if out is None else out.merge(sk)
    return out


def misra_gries_report(
    df: DataFrame, value_col: str, k: int = 64, top: int = 20
) -> DataFrame:
    """Self-certifying heavy-hitter report: build per-partition MG
    summaries, merge on the driver, then verify the two Misra-Gries
    guarantees against ONE exact aggregate (gate-scale verification —
    at 100 TB the sketch runs alone): per reported item,
    ``counter <= true <= counter + dec`` (within_bound), and no item
    the summary missed has true count > dec (no_missed_heavy, same
    value on every row — a global contract). Output one row per
    reported item, top ``top`` by counter then value:
    ``(item, counter, n, dec, within_bound, no_missed_heavy)`` — the
    q53/q251 boolean-contract gate shape."""
    spark = df.sparkSession
    vals = df.select(F.col(value_col).cast("string").alias("v")).filter(
        F.col("v").isNotNull()
    )
    sk = misra_gries_merge_rows(
        misra_gries_partition_sketches(vals, "v", k=k).collect()
    )
    cand = sorted(sk.counts.items(), key=lambda kv: (-kv[1], kv[0]))[: int(top)]
    # literal_frame, not createDataFrame: model-sized driver frames as
    # pure-JVM literal plans (no Python-worker round trips — r13)
    from owl_etl_spark.session import literal_frame

    cand_df = literal_frame(
        spark, [(v, int(c)) for v, c in cand], "item string, counter long"
    )
    # the missed-heavy check runs against the WHOLE summary: items the
    # summary tracks but top-N truncated are not "missed"
    all_df = literal_frame(
        spark, [(v,) for v in sorted(sk.counts)], "tracked string"
    )
    exact = vals.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("__true"))
    missed = (
        exact.join(F.broadcast(all_df), exact["v"] == all_df["tracked"], "left_anti")
        .agg(F.coalesce(F.max("__true"), F.lit(0)).alias("__maxmiss"))
    )
    n, dec = sk.n, sk.dec
    return (
        exact.join(F.broadcast(cand_df), exact["v"] == cand_df["item"])
        .crossJoin(F.broadcast(missed))
        .select(
            "item",
            "counter",
            F.lit(n).cast("long").alias("n"),
            F.lit(dec).cast("long").alias("dec"),
            (
                (F.col("counter") <= F.col("__true"))
                & (F.col("__true") <= F.col("counter") + F.lit(dec))
            ).alias("within_bound"),
            (F.col("__maxmiss") <= F.lit(dec)).alias("no_missed_heavy"),
        )
        .orderBy(F.col("counter").desc(), F.col("item").asc())
    )
