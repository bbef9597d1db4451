"""Iterative proportional fitting (IPF / survey raking) over a
two-way contingency grid.

Round-10 wave 7. The training-mixture problem the temperature
sampler (alpha-mixture) and budget allocator don't solve: given the
OBSERVED (source × lang) cell counts, find per-cell weights whose
weighted marginals match TARGET marginals on both axes
simultaneously — the classic raking estimator, and exactly the
reweighting step a corpus needs when its crawl over-represents some
(source, language) combinations.

Targets here are uniform over the observed categories of each axis
(the stated default — the operator is the machinery; plugging other
targets is a frame swap). Structural zeros (absent cells) stay
absent, the standard IPF convention.

Exactness across engines: the iterate m is a per-cell BIGINT in
micro-units; every scaling step is ONE double expression of exact
BIGINTs — m' = round(m · target / marginal_sum) — so the state after
every iteration is an exact, engine-identical integer vector. The
oracle unrolls the same iterations as SQL CTEs (the q255
Bradley-Terry device).

Scale posture: everything after the first aggregate is grid-
cardinality-bounded (|rows|·|cols| cells); the iterations are window
sums over that tiny frame. One data-sized shuffle total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_M = 1_000_000


def _fd(x: str, d: str):
    """Exact floor division of BIGINT SQL fragments (the q291 device)."""
    return F.expr(f"(({x}) - (((({x}) % ({d})) + ({d})) % ({d}))) div ({d})")


def ipf_rake(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Rake the (row_col × col_col) count grid to uniform marginals on
    both axes via 8 full IPF rounds (each = one row scaling +
    one column scaling).

    Returns one row per observed cell: ``(row_cat, col_cat, n,
    m_micro, weight_micro)`` — n the observed count, m_micro the
    fitted expected count in micro-units after the final round, and
    weight_micro = ⌊m_micro / n⌋ the per-record sampling weight a
    pipeline would apply to records of that cell.

    Fixed iteration count, stated: IPF converges geometrically on
    strictly-positive-connected grids; 8 rounds put the residual far
    below the micro snap for the grid sizes this targets, and a FIXED
    count is what keeps the operator engine-exact and oracle-able
    (the convergence-test variant would gate on a float threshold).
    """
    cells = (
        df.select(
            F.col(row_col).cast("string").alias("__r"),
            F.col(col_col).cast("string").alias("__c"),
        )
        .filter(F.col("__r").isNotNull() & F.col("__c").isNotNull())
        .groupBy("__r", "__c")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    g = cells.groupBy().agg(
        F.sum("__n").cast("long").alias("__nt"),
        F.count_distinct("__r").cast("long").alias("__nr"),
        F.count_distinct("__c").cast("long").alias("__nc"),
    )
    cells = cells.crossJoin(F.broadcast(g)).select(
        "__r",
        "__c",
        "__n",
        (F.col("__n") * _M).cast("long").alias("__m"),
        _fd("__nt * 1000000", "__nr").cast("long").alias("__rt"),
        _fd("__nt * 1000000", "__nc").cast("long").alias("__ct"),
    )
    wr = Window.partitionBy("__r")
    wc = Window.partitionBy("__c")
    for _ in range(8):
        rs = F.sum("__m").over(wr).cast("long")
        cells = cells.withColumn(
            "__m",
            F.round(
                F.col("__m").cast("double")
                * F.col("__rt").cast("double")
                / rs.cast("double")
            ).cast("long"),
        )
        cs = F.sum("__m").over(wc).cast("long")
        cells = cells.withColumn(
            "__m",
            F.round(
                F.col("__m").cast("double")
                * F.col("__ct").cast("double")
                / cs.cast("double")
            ).cast("long"),
        )
    return cells.select(
        F.col("__r").alias("row_cat"),
        F.col("__c").alias("col_cat"),
        F.col("__n").alias("n"),
        F.col("__m").alias("m_micro"),
        _fd("__m", "__n").cast("long").alias("weight_micro"),
    )
