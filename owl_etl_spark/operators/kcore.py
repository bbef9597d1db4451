"""k-core decomposition by iterative peeling.

The k-core of a graph is the maximal subgraph in which every node has
degree >= k — the standard "dense kernel" extraction for community
seeding, spam-ring detection and graph sparsification. Computed by
the classic peel loop: repeatedly delete nodes of degree < k (with
degrees recomputed over the survivors) until a fixpoint.

Plan shape per round: one degree aggregate over the surviving edge
set + two semi-joins to drop edges touching peeled nodes — all keyed
shuffles on the node id, no global sorts, no driver-side data. The
edge set only shrinks, so rounds get cheaper; the loop runs through
``session.iterate``, sealed every round. Convergence is
checked by edge-count fixpoint; a graph that has not converged within
``max_rounds`` raises rather than silently returning a non-core
(callers at 100 TB pick max_rounds from the peel depth they can
afford — real-world graphs converge in a handful of rounds because
each round removes every currently-under-k node at once).

Determinism: pure integer degrees; no ordering anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import iterate, release, seal


def k_core(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    max_rounds: int = 12,
) -> DataFrame:
    """Peel ``edges`` (undirected; each pair given once or twice —
    symmetrized and deduped internally; self-loops dropped) to the
    k-core. Returns ``(node, degree)`` for nodes in the core, with
    their within-core degree.

    Raises RuntimeError if the peel has not reached a fixpoint after
    ``max_rounds`` rounds — never silently returns a partial peel.
    """
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    a, b = F.col(src_col), F.col(dst_col)
    base = (
        edges.select(a.alias("__a"), b.alias("__b"))
        .where(F.col("__a").isNotNull() & F.col("__b").isNotNull() & (F.col("__a") != F.col("__b")))
    )
    sym = seal(
        base.union(base.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))).distinct()
    )
    counts = [sym.count()]

    def _peel(cur: DataFrame, _: int) -> DataFrame:
        keep = (
            cur.groupBy("__a")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .where(F.col("__deg") >= int(k))
            .select("__a")
        )
        return cur.join(keep, "__a", "left_semi").join(
            keep.withColumnRenamed("__a", "__b"), "__b", "left_semi"
        )

    def _fixpoint(nxt: DataFrame) -> bool:
        counts.append(nxt.count())
        return counts[-1] in (counts[-2], 0)

    core = iterate(sym, _peel, max_rounds, stop=_fixpoint)
    if core is not sym:
        release(sym)
        if counts[-1] == counts[-2]:
            return (
                core.groupBy(F.col("__a").alias("node"))
                .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            )
        if counts[-1] == 0:
            return core.select(F.col("__a").alias("node"), F.lit(0).cast("long").alias("degree"))
    raise RuntimeError(f"k_core: no fixpoint after {max_rounds} rounds (k={k})")
