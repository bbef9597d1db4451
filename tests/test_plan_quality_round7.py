"""Plan-quality freezes for the round-7 heavyweight operators — the
.explain-and-iterate discipline (README scale notes) captured as
tests, so a future edit that silently degrades a plan (a broadcast
lost to a cartesian, a Python boundary sneaking in) fails loudly.

The global no-Python-UDF sweep in test_plan_quality.py already covers
every round-7 query; these tests pin the SHAPE properties that sweep
can't see."""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


#: Round-7 queries whose operators compose joins that MUST stay
#: broadcast-shaped: any plain CartesianProduct means a guard or
#: broadcast hint was lost (BroadcastNestedLoopJoin — the broadcast
#: cross join the 1-row scalar/candidate tables use — is fine).
_NO_CARTESIAN = [
    "q252_seeded_pagerank",
    "q253_embedding_top_eigvec",
    "q254_bpe_pair_merges",
    "q255_shipping_bradley_terry",
    "q256_shapley_attribution",
    "q264_negative_samples",
    "q267_value_wasserstein",
    "q268_bootstrap_ci",
    "q270_ransac_price_line",
    "q271_trade_simrank",
    "q276_mondrian_k_anonymity",
    "q289_cluster_silhouette",
    "q291_spend_permutation_test",
    "q293_balance_cvm",
]


@pytest.mark.parametrize("name", _NO_CARTESIAN)
def test_no_plain_cartesian_product(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, (
        f"{name}: a non-broadcast cartesian appeared — a broadcast hint "
        "or headroom guard was lost"
    )


def test_shapley_subset_table_is_broadcast(spark):
    # the 2^k mask/coalition tables must ride broadcast joins — if the
    # exponential side ever becomes a shuffle join input, the operator
    # has inverted its data/enumeration split
    plan = _plan(spark, "q256_shapley_attribution")
    assert "BroadcastExchange" in plan


def test_ransac_candidates_are_broadcast(spark):
    plan = _plan(spark, "q270_ransac_price_line")
    assert "BroadcastExchange" in plan
    # the inlier count is the only data-sized aggregate
    assert plan.count("HashAggregate") >= 2


def test_bradley_terry_default_is_literal_fallback_broadcasts(spark, monkeypatch):
    # r13: the MM fit replays driver-side over the bounded pair record
    # (the returned frame is a pure literal plan — no exchange, no
    # Python boundary); the DISTRIBUTED fallback for over-sized
    # tournaments must still ride broadcast joins for its item-sized
    # frames, so force the guard off and check that plan too.
    import contextlib
    import io

    from pyspark.sql import functions as F

    from owl_etl_spark import session
    from owl_etl_spark.operators.pairwise import bradley_terry_strengths

    plan = _plan(spark, "q255_shipping_bradley_terry")
    assert "Exchange" not in plan  # literal model frame

    games = spark.range(100).select(
        (F.col("id") % 7).cast("string").alias("winner"),
        ((F.col("id") % 7 + 1 + F.col("id") % 3) % 11).cast("string").alias("loser"),
    )
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 0)
    dist = bradley_terry_strengths(games)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dist.explain("formatted")
    assert "BroadcastExchange" in buf.getvalue()


def test_power_iteration_default_is_literal_fallback_pivot_in_plan(spark, monkeypatch):
    # r13: the all-integer loop replays driver-side when the quantized
    # matrix is model-sized (literal result frame); the distributed
    # fallback for wide matrices must keep its scalar pivot IN-PLAN
    # (a 1-row broadcast nested loop join), not a per-iteration
    # driver collect.
    import contextlib
    import io

    from pyspark.sql import functions as F

    from owl_etl_spark import session
    from owl_etl_spark.operators.linalg import power_iteration_top_eigvec

    plan = _plan(spark, "q253_embedding_top_eigvec")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange" not in plan  # literal model frame (+ final sort only)

    gram = spark.range(9).select(
        (F.col("id") % 3).cast("int").alias("i"),
        (F.col("id") / 3).cast("int").alias("j"),
        (F.col("id") + 1).cast("long").alias("s"),
    ).filter("j >= i")
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 0)
    dist = power_iteration_top_eigvec(gram, n_iters=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dist.explain("formatted")
    assert "BroadcastNestedLoopJoin" in buf.getvalue()


def test_bootstrap_explode_feeds_single_aggregate(spark):
    # q268: explode x32 then ONE (group, replicate) aggregate — the
    # generator must appear, and no join may touch the exploded rows
    # before aggregation (the replicate means join tiny tables after)
    plan = _plan(spark, "q268_bootstrap_ci")
    assert "Generate" in plan


def test_wasserstein_histograms_aggregate_before_pairs(spark):
    # the data-sized shuffle is the per-key histogram; pair fan-out
    # joins run on aggregated (support-sized) tables only. Two
    # hash-aggregate levels minimum: histogram + area sum.
    plan = _plan(spark, "q267_value_wasserstein")
    assert plan.count("HashAggregate") >= 4  # partial+final x2 stages
