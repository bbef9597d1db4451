"""``session.seal`` / ``release`` / ``sealed``: the one spelling of a
local checkpoint, and a release that frees its blocks.

``DataFrame.unpersist()`` on a local checkpoint frees nothing (the
blocks belong to the checkpointed RDD under the frame's ``LogicalRDD``
leaf), so these tests read executor storage directly
(``getRDDStorageInfo``) rather than trusting a call's name. They
compare RDD ids, not counts: the context cleaner may free an earlier
test's garbage mid-test, which would hide a new seal in a count.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from owl_etl_spark import session
from owl_etl_spark.session import release, seal, sealed

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
