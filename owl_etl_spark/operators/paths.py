"""Iterative path analytics: bounded weighted shortest paths and
label-propagation community detection.

Two classic graph primitives the engine's existing loop family
(connected components in operators/dedup.py, BFS in
operators/graph.py, k-core peel in operators/kcore.py) does not
cover:

* ``weighted_shortest_paths`` — Bellman-Ford relaxation bounded to a
  hop budget: the "cheapest route within R legs" readout behind
  logistics-cost, network-latency and influence-distance questions,
  where BFS's unweighted hop count is the wrong metric.
* ``label_propagation`` — synchronous LPA: the near-linear community
  detector used for entity-cluster seeding when connected components
  over-merges (CC joins everything touching; LPA keeps densely-knit
  groups apart because a node adopts its *majority* neighbor label,
  not any neighbor label).

Both follow the repo's iterative-loop discipline (see
operators/dedup.py connected_components): per round, ONE keyed
shuffle (a join on the node id + an aggregate), sealed by
``session.iterate``, and a cheap fixpoint test so the loop exits in
diameter-ish rounds rather than always burning the budget. All
arithmetic is exact integers — costs are BIGINT sums, tie-breaks are
total orders — so results are deterministic and engine-portable, and
the bounded-round semantics replays exactly as an unrolled SQL CTE
ladder (extra stages past the fixpoint are no-ops).

Reference parity note: the reference ETL (Jave-OWL/owl-ETL) has no
graph surface; these extend the engine's training-data/analytics
layer alongside pagerank/bfs/hits (operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import iterate, literal_frame, release, seal


def weighted_shortest_paths(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    sources: list,
    max_hops: int = 6,
    undirected: bool = True,
) -> DataFrame:
    """Minimum total-weight path cost from a SOURCE SET to every node
    reachable within ``max_hops`` edges: one row per reached node —
    ``(node, cost)`` — sources at cost 0. Weights must be
    non-negative integers (enforced at runtime: a negative or null
    weight raises, woven into the cost column so Catalyst cannot
    prune the guard away).

    Semantics are *hop-bounded* Bellman-Ford: ``cost(v)`` is the
    cheapest path using at most ``max_hops`` edges. That bound is the
    contract (and what the unrolled SQL oracle replays), not a
    convergence hope — but the loop still exits early at a fixpoint,
    detected by the exact (row-count, Σcost) pair: min-only updates
    strictly decrease Σcost or grow the row count, so an unchanged
    pair proves no relaxation fired and every further round would be
    a no-op.

    Plan per round: current distance table joins the edge list on the
    node id (one keyed shuffle), unions the stand-pat rows, and takes
    ``min(cost)`` per node — no global sorts, no driver data;
    ``session.iterate`` seals each round. At 100 TB the distance
    table is |V| rows and each round is one shuffle of
    |V| + |frontier neighborhood| rows, the same contract as
    ``bfs_hops`` (operators/graph.py:225) with a cost column riding
    along.
    """
    w = F.col(weight_col).cast("long")
    guarded_w = F.when(
        w.isNull() | (w < 0),
        F.raise_error(
            F.concat(
                F.lit("weighted_shortest_paths: null/negative weight for edge "),
                F.col(src_col).cast("string"),
                F.lit("->"),
                F.col(dst_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(w)
    e = edges.select(
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__d"),
        guarded_w.alias("__w"),
    ).filter(F.col("__s").isNotNull() & F.col("__d").isNotNull())
    if undirected:
        e = e.unionByName(
            e.select(
                F.col("__d").alias("__s"), F.col("__s").alias("__d"), F.col("__w")
            )
        )
    # parallel edges: keep only the cheapest — fewer relax candidates,
    # identical shortest-path semantics
    e = e.groupBy("__s", "__d").agg(F.min("__w").alias("__w"))
    dist0 = seal(
        literal_frame(
            edges.sparkSession, [(s, 0) for s in sources], ["node", "cost"]
        ).select(F.col("node").cast(dict(e.dtypes)["__s"]), F.col("cost").cast("long"))
    )

    def _relax(dist: DataFrame, _: int) -> DataFrame:
        relaxed = dist.join(e, dist.node == e.__s).select(
            F.col("__d").alias("node"), (F.col("cost") + F.col("__w")).alias("cost")
        )
        return dist.unionByName(relaxed).groupBy("node").agg(F.min("cost").alias("cost"))

    sigs = [(1, 0)]

    def _fixpoint(dist: DataFrame) -> bool:
        row = dist.agg(F.count(F.lit(1)).alias("n"), F.sum("cost").alias("total")).collect()[0]
        sigs.append((row["n"], row["total"]))
        return sigs[-1] == sigs[-2]

    dist = iterate(dist0, _relax, max_hops, stop=_fixpoint)
    if dist is not dist0:
        release(dist0)
    return dist


def label_propagation(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation over an undirected graph:
    every node starts labeled with its own id; each round, every node
    simultaneously adopts the label held by the plurality of its
    neighbors, ties broken toward the SMALLEST label — a total order,
    so the result after exactly ``rounds`` rounds is deterministic
    and replayable as an unrolled SQL ladder (classic sync LPA is
    oscillation-prone at convergence, which is why the contract here
    is a fixed round count, not a fixpoint).

    Returns ``(node, label)`` for every node incident to an edge
    (isolated nodes never enter — the node set derives from the edge
    list). Self-loops are dropped; each undirected edge votes once
    per endpoint per round.

    Plan per round: the label table joins the symmetrized edge list
    on the node id, a two-key aggregate counts neighbor labels, and a
    ``min(struct(-count, label))`` per node picks the plurality
    winner — two keyed shuffles, no window over raw edges, no driver
    data. Per-task work is bounded by per-node degree (the same
    skew exposure as any degree aggregate; pre-bound hub degree
    upstream if the graph has 10^6-degree hubs).
    """
    a, b = F.col(src_col), F.col(dst_col)
    base = edges.select(a.alias("__a"), b.alias("__b")).where(
        F.col("__a").isNotNull() & F.col("__b").isNotNull() & (F.col("__a") != F.col("__b"))
    )
    sym = base.union(
        base.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
    ).distinct()
    sym = seal(sym)
    initial = sym.select(F.col("__a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )

    def _round(labels: DataFrame, _: int) -> DataFrame:
        votes = (
            sym.join(labels, sym.__b == labels.node)
            .groupBy(F.col("__a").alias("node"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        return votes.groupBy("node").agg(
            F.min(F.struct((-F.col("__c")).alias("nc"), F.col("label").alias("lb")))
            .getField("lb")
            .alias("label")
        )

    labels = iterate(initial, _round, rounds)
    if labels is not initial:
        release(sym)
    return labels
