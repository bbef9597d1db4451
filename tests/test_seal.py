"""``session.seal`` / ``release`` / ``sealed``: the one spelling of a
local checkpoint, and a release that frees its blocks; and
``core_shuffle_partitions``, the one pin of the shuffle width.

``DataFrame.unpersist()`` on a local checkpoint frees nothing (the
blocks belong to the checkpointed RDD under the frame's ``LogicalRDD``
leaf), so these tests read executor storage directly
(``getRDDStorageInfo``) rather than trusting a call's name. They
compare RDD ids, not counts: the context cleaner may free an earlier
test's garbage mid-test, which would hide a new seal in a count.
"""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from owl_etl_spark import session
from owl_etl_spark.session import core_shuffle_partitions, iterate, release, seal, sealed

ROOT = Path(__file__).resolve().parents[1]


def _stored(spark) -> set[int]:
    """Ids of the RDDs with blocks in executor storage right now."""
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _sealed_leaves(df) -> set[int]:
    """RDD ids of the seals (``LogicalRDD`` leaves) ``df``'s plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


# ------------------------------------------------------------- helpers

def test_seal_is_one_job(spark):
    sc = spark.sparkContext
    group = "seal-one-job"
    sc.setJobGroup(group, "seal job count")
    try:
        out = seal(spark.range(0, 1000, 1, 8))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert out.count() == 1000
    release(out)


def test_release_frees_the_seal(spark):
    before = _stored(spark)
    out = seal(spark.range(1000))
    assert _stored(spark) - before == _sealed_leaves(out)
    release(out)
    assert _stored(spark) - before == set()


def test_release_refuses_a_derived_frame(spark):
    out = seal(spark.range(10))
    with pytest.raises(TypeError):
        release(out.select("id"))
    release(out)


def test_sealed_releases_when_its_body_raises(spark):
    before = _stored(spark)
    with pytest.raises(RuntimeError):
        with sealed(spark.range(100)) as out:
            assert out.count() == 100
            assert _stored(spark) - before == _sealed_leaves(out)
            raise RuntimeError("body failed")
    assert _stored(spark) - before == set()


def test_core_shuffle_partitions_pins_and_restores_when_its_body_raises(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        with pytest.raises(RuntimeError):
            with core_shuffle_partitions(spark):
                assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)
                raise RuntimeError("body failed")
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, before)


def test_shuffle_partitions_are_set_only_in_session():
    files = [ROOT / "__spark_entry__.py", *sorted((ROOT / "owl_etl_spark").rglob("*.py"))]
    hits = [
        f"{path.relative_to(ROOT)}:{call.lineno}"
        for path in files
        if path != ROOT / "owl_etl_spark" / "session.py"
        for call in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(call, ast.Call) and getattr(call.func, "attr", None) == "set"
        and call.args and getattr(call.args[0], "value", None) == "spark.sql.shuffle.partitions"
    ]
    assert hits == []


def test_release_logs_no_warning():
    """``RDD.unpersist`` on a local checkpoint logs a WARN per call; the
    JVM writes it to the process's own stderr, so run in a subprocess."""
    code = (
        "from pyspark.sql import SparkSession\n"
        "from owl_etl_spark.session import release, seal\n"
        "spark = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "out = seal(spark.range(100))\n"
        "release(out)\n"
        "print('freed', len(spark.sparkContext._jsc.sc().getRDDStorageInfo()))\n"
        "spark.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "freed 0" in proc.stdout
    assert "was locally checkpointed" not in proc.stderr


def test_iterate_seals_on_its_cadence_and_keeps_only_the_last(spark):
    sealed_mins = []

    def _step(df, i):
        return df.select((F.col("id") + 1).alias("id"))

    def _stop(df):
        sealed_mins.append(df.agg(F.min("id")).first()[0])
        return False

    before = _stored(spark)
    out = iterate(spark.range(3), _step, 5, every=2, stop=_stop)
    # rounds 2 and 4 are sealed, the last (5) is not
    assert sealed_mins == [2, 4]
    assert sorted(r["id"] for r in out.collect()) == [5, 6, 7]
    assert _stored(spark) - before <= _sealed_leaves(out)
    assert len(_sealed_leaves(out)) == 1


def test_iterate_stops_on_the_fresh_seal_and_releases_on_error(spark):
    before = _stored(spark)
    start = seal(spark.range(4))
    out = iterate(
        start, lambda df, i: df.filter(F.col("id") > i), 10, stop=lambda df: df.count() <= 2
    )
    assert sorted(r["id"] for r in out.collect()) == [2, 3]
    assert sorted(r["id"] for r in start.collect()) == [0, 1, 2, 3]  # initial kept
    release(out)
    release(start)

    def _fail(df, i):
        if i == 2:
            raise RuntimeError("step failed")
        return df.select("id")

    with pytest.raises(RuntimeError):
        iterate(spark.range(5), _fail, 4)
    assert _stored(spark) - before == set()


def test_no_loop_outside_session_both_seals_and_releases():
    """Iterative operators loop through ``session.iterate``: a ``for``
    or ``while`` body that seals and releases is a hand-rolled copy."""
    hits = []
    for path in [ROOT / "__spark_entry__.py", *sorted((ROOT / "owl_etl_spark").rglob("*.py"))]:
        if path == ROOT / "owl_etl_spark" / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, (ast.For, ast.While)):
                continue
            called = {
                n.func.id if isinstance(n.func, ast.Name) else getattr(n.func, "attr", None)
                for stmt in node.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Call)
            }
            if {"seal", "release"} <= called:
                hits.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert hits == []


def test_betweenness_levels_plan_one_aggregate_each(spark, monkeypatch):
    """Each BFS level's seal plans one σ-aggregate: ``visited`` must
    union the sealed levels, not the frames that plan them."""
    from owl_etl_spark.operators import graph

    plans = []

    def _seal(df, eager=True):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString().count("Aggregate ["))
        return seal(df, eager)

    ring = [(i, (i + 1) % 20) for i in range(20)] + [(i, (i + 5) % 20) for i in range(20)]
    edges = spark.createDataFrame(ring + [(b, a) for a, b in ring], "src long, dst long")
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    monkeypatch.setattr(graph, "seal", _seal)
    e = seal(edges)
    out = graph.betweenness_seeded(e, seeds, n_levels=4, edges_sealed=True)
    out.collect()
    levels = plans[1:5]  # plans[0] is the seed frontier
    assert len(levels) == 4
    assert len(set(levels)) == 1, levels
    release(e)


def test_local_checkpoint_is_spelled_only_in_session():
    files = [ROOT / "__spark_entry__.py", *sorted((ROOT / "owl_etl_spark").rglob("*.py"))]
    hits = [
        f"{path.relative_to(ROOT)}:{n}"
        for path in files
        if path != ROOT / "owl_etl_spark" / "session.py"
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert hits == []


# ------------------------------------------ iterative operators' storage

_EDGES = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (3, 10), (20, 21)]
_IDS = [1, 2, 3, 10, 11, 12, 13, 20, 21, 99]
_COMPONENTS = [
    (1, 1), (2, 1), (3, 1), (10, 1), (11, 1), (12, 1), (13, 1), (20, 20), (21, 20), (99, 99)
]


def _components(spark, variant):
    from owl_etl_spark.operators import dedup

    pairs = spark.createDataFrame(_EDGES, "id_a bigint, id_b bigint")
    ids = spark.createDataFrame([(i,) for i in _IDS], "doc_id bigint")
    return getattr(dedup, variant)(pairs, ids)


def _hits_replay(edges, n_iters):
    """HITS's exact integer recurrence in Python (graph.hits_scores)."""
    hub = {s: 1_000_000 for s, _ in edges}
    for _ in range(n_iters):
        araw: dict = {}
        for s, d in edges:
            if s in hub:
                araw[d] = araw.get(d, 0) + hub[s]
        amax = max(max(araw.values()), 1)
        auth = {d: r * 1_000_000 // amax for d, r in araw.items()}
        hraw: dict = {}
        for s, d in edges:
            if d in auth:
                hraw[s] = hraw.get(s, 0) + auth[d]
        hmax = max(max(hraw.values()), 1)
        hub = {s: r * 1_000_000 // hmax for s, r in hraw.items()}
    nodes = {n for e in edges for n in e}
    return sorted((n, hub.get(n, 0), auth.get(n, 0)) for n in nodes)


_HITS_EDGES = [("s1", "p1"), ("s1", "p2"), ("s2", "p1")]


def _bradley_terry(spark):
    from owl_etl_spark.operators.pairwise import bradley_terry_strengths

    games = spark.range(100).select(
        (F.col("id") % 7).cast("string").alias("winner"),
        ((F.col("id") % 7 + 1 + F.col("id") % 3) % 11).cast("string").alias("loser"),
    )
    return bradley_terry_strengths(games, n_iters=6)


def _power_iteration(spark):
    from owl_etl_spark.operators.linalg import power_iteration_top_eigvec

    gram = spark.range(36).select(
        (F.col("id") % 6).cast("int").alias("i"),
        (F.col("id") / 6).cast("int").alias("j"),
        ((F.col("id") * 7) % 11 - 3).cast("long").alias("s"),
    ).filter("j >= i")
    return power_iteration_top_eigvec(gram, n_iters=6)


_DIGRAPH = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "d")]
_GRAPH = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (7, 8)]


def _digraph(spark):
    edges = spark.createDataFrame(_DIGRAPH, "src string, dst string")
    return edges, spark.createDataFrame([(n,) for n in "abcde"], "node string")


def _graph(spark):
    return spark.createDataFrame(_GRAPH, "src bigint, dst bigint")


def _ppr(spark):
    from owl_etl_spark.operators.graph import personalized_pagerank

    seeds = spark.createDataFrame([("a",)], "node string")
    return personalized_pagerank(*_digraph(spark), seeds, n_iters=3)


def _katz(n_iters):
    def build(spark):
        from owl_etl_spark.operators.graph import katz_centrality

        return katz_centrality(*_digraph(spark), n_iters=n_iters)

    return build


def _pagerank0(spark):
    from owl_etl_spark.operators.graph import pagerank

    return pagerank(*_digraph(spark), n_iters=0)


def _label_propagation_seeded(spark):
    from owl_etl_spark.operators.graph import label_propagation_seeded

    seeds = spark.createDataFrame([("a", "x"), ("d", "y")], "node string, label string")
    return label_propagation_seeded(_digraph(spark)[0], seeds, n_iters=2)


def _label_propagation(spark):
    from owl_etl_spark.operators.paths import label_propagation

    return label_propagation(_graph(spark), "src", "dst", rounds=2)


def _weighted_shortest_paths(spark):
    from owl_etl_spark.operators.paths import weighted_shortest_paths

    edges = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 1), (3, 2, 1), (2, 4, 2), (4, 5, 7)], "src bigint, dst bigint, w bigint"
    )
    return weighted_shortest_paths(edges, "src", "dst", "w", [1], max_hops=6)


def _k_core(spark):
    from owl_etl_spark.operators.kcore import k_core

    return k_core(_graph(spark), "src", "dst", 2)


def _bfs_hops(spark):
    from owl_etl_spark.operators.graph import bfs_hops

    return bfs_hops(_graph(spark), "src", "dst", [1], max_hops=10)


def _harmonic(spark):
    from owl_etl_spark.operators.graph import harmonic_centrality

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "node bigint")
    return harmonic_centrality(_graph(spark), nodes, max_hops=3)


_ONES = [(n, 1_000_000) for n in "abcde"]
#: (build, rows) per operator; rows recorded from the operators as they
#: were before they looped through ``session.iterate``
_RECORDED = {
    "personalized_pagerank": (
        _ppr, [("a", 330625), ("b", 140516), ("c", 194704), ("d", 180625), ("e", 0)]
    ),
    "katz_centrality": (
        _katz(3),
        [("a", 1406250), ("b", 1343750), ("c", 1671875), ("d", 1406250), ("e", 1000000)],
    ),
    "katz_centrality:0": (_katz(0), _ONES),
    "pagerank:0": (_pagerank0, _ONES),
    "label_propagation_seeded": (
        _label_propagation_seeded, [("a", "x"), ("b", "x"), ("c", "x"), ("d", "y")]
    ),
    "paths.label_propagation": (
        _label_propagation, [(1, 1), (2, 1), (3, 1), (4, 1), (5, 3), (6, 4), (7, 7), (8, 8)]
    ),
    "paths.weighted_shortest_paths": (
        _weighted_shortest_paths, [(1, 0), (2, 2), (3, 1), (4, 4), (5, 11)]
    ),
    "kcore.k_core": (_k_core, [(1, 2), (2, 2), (3, 2)]),
    "bfs_hops": (_bfs_hops, [(1, 0), (2, 1), (3, 1), (4, 2), (5, 3), (6, 4)]),
    "harmonic_centrality": (
        _harmonic,
        [
            (1, 3, 1833333), (2, 4, 2333333), (3, 5, 3333333), (4, 2, 1500000),
            (5, 1, 1000000), (6, 0, 0), (7, 1, 1000000), (8, 0, 0),
        ],
    ),
}


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _case(spark, monkeypatch, name):
    """(build, expected rows) for one operator; `distributed` cases
    pin their expected rows to the driver replay's answer."""
    if name == "pagerank":
        from owl_etl_spark.operators.graph import pagerank

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        nodes = spark.createDataFrame([("a",), ("b",)], "node string")
        return (lambda: pagerank(edges, nodes, n_iters=3)), [("a", 150_000), ("b", 277_500)]
    if name == "hits_scores":
        from owl_etl_spark.operators.graph import hits_scores

        edges = spark.createDataFrame(_HITS_EDGES, "src string, dst string")
        return (lambda: hits_scores(edges, n_iters=5)), _hits_replay(_HITS_EDGES, 5)
    if name.startswith("connected_components"):
        variant, _, path = name.partition(":")
        if path == "distributed":
            monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 0)
        return (lambda: _components(spark, variant)), _COMPONENTS
    if name in _RECORDED:
        build, want = _RECORDED[name]
        return (lambda: build(spark)), want
    build = {"bradley_terry": _bradley_terry, "power_iteration": _power_iteration}[name]
    want = _rows(build(spark))  # the driver replay
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 0)
    return (lambda: build(spark)), want


@pytest.mark.parametrize(
    "name",
    [
        "connected_components:driver",
        "connected_components:distributed",
        "connected_components_star:driver",
        "connected_components_star:distributed",
        "pagerank",
        "hits_scores",
        "bradley_terry",
        "power_iteration",
        *_RECORDED,
    ],
)
def test_iterative_operator_keeps_only_the_seals_its_result_reads(spark, monkeypatch, name):
    build, want = _case(spark, monkeypatch, name)
    before = _stored(spark)
    out = build()
    # one action on the result: a seal released too early fails it
    assert _rows(out) == want
    # what the call left in storage is at most the seals `out` reads
    assert _stored(spark) - before <= _sealed_leaves(out)
