"""Round-7 wave-2 operators: personalized PageRank (graph.py),
all-integer power iteration (linalg.py), BPE pair merges (bpe.py)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from owl_etl_spark.operators.bpe import bpe_pair_merges, word_freq_symbols
from owl_etl_spark.operators.graph import personalized_pagerank
from owl_etl_spark.operators.linalg import power_iteration_top_eigvec


# --------------------------------------------------- personalized pagerank


def _toy_graph(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        "src string, dst string",
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "node string")
    return edges, nodes


def test_ppr_unreachable_node_is_exactly_zero(spark):
    edges, nodes = _toy_graph(spark)
    seeds = spark.createDataFrame([("a",)], "node string")
    pr = {
        r.node: r.rank_micro_units
        for r in personalized_pagerank(edges, nodes, seeds, n_iters=4).collect()
    }
    # d has no in-edges and is not a seed: provably 0 at every iteration
    assert pr["d"] == 0
    assert pr["a"] > 0 and pr["b"] > 0 and pr["c"] > 0


def test_ppr_hand_computed_two_iterations(spark):
    edges, nodes = _toy_graph(spark)
    seeds = spark.createDataFrame([("a",)], "node string")
    pr = {
        r.node: r.rank_micro_units
        for r in personalized_pagerank(edges, nodes, seeds, n_iters=2).collect()
    }
    # r0: a=1e6, rest 0.  outdeg all 1.
    # i1: a=150000 (seed teleport; c contributes 0), b=round(.85*1e6)=850000
    # i2: a=150000+0 (c still 0 at i1 input... c=round(.85*0)=0) wait:
    #     i1: c gets .85*rank(b)=0 -> c=0
    #     i2: a=150000+round(.85*round(0/1))=150000? c(i1)=0 so yes;
    #         b=round(.85*150000)=127500; c=round(.85*850000)=722500
    assert pr["a"] == 150000
    assert pr["b"] == 127500
    assert pr["c"] == 722500


def test_ppr_seed_everything_equals_plain_teleport_shape(spark):
    # seeding ALL nodes reduces to plain pagerank's teleport structure
    from owl_etl_spark.operators.graph import pagerank

    edges, nodes = _toy_graph(spark)
    ppr = {
        r.node: r.rank_micro_units
        for r in personalized_pagerank(edges, nodes, nodes, n_iters=3).collect()
    }
    pr = {
        r.node: r.rank_micro_units
        for r in pagerank(edges, nodes, n_iters=3).collect()
    }
    assert ppr == pr


# ------------------------------------------------------- power iteration


def test_power_iteration_converges_to_numpy_eigvec(spark):
    rng = np.random.default_rng(5)
    M = rng.normal(size=(6, 6))
    A = M @ M.T + 6 * np.eye(6)  # SPD, well-separated top eigenvalue
    rows = [
        (i + 1, j + 1, int(round(A[i, j] * 1000)))
        for i in range(6)
        for j in range(6)
        if j >= i
    ]
    gram = spark.createDataFrame(rows, "i int, j int, s long")
    got = {
        r.i: r.v_micro
        for r in power_iteration_top_eigvec(gram, n_iters=25).collect()
    }
    Aq = np.array(
        [[round(A[i, j] * 1000) for j in range(6)] for i in range(6)], dtype=float
    )
    w, V = np.linalg.eigh(Aq)
    top = V[:, -1]
    top = top / top[int(np.argmax(np.abs(top)))]
    for i in range(6):
        assert abs(got[i + 1] / 1e6 - top[i]) < 2e-3, (i, got[i + 1], top[i])


def test_power_iteration_pivot_component_is_exactly_micro(spark):
    rows = [(1, 1, 4000), (1, 2, 1000), (2, 2, 3000)]
    gram = spark.createDataFrame(rows, "i int, j int, s long")
    got = {r.i: r.v_micro for r in power_iteration_top_eigvec(gram, n_iters=5).collect()}
    assert max(got.values()) == 1_000_000  # pivot normalization fixes scale
    assert all(abs(v) <= 1_000_000 for v in got.values())


def test_power_iteration_deterministic_under_repartition(spark):
    rng = np.random.default_rng(7)
    M = rng.normal(size=(8, 8))
    A = M @ M.T
    rows = [
        (i + 1, j + 1, int(round(A[i, j] * 1000)))
        for i in range(8)
        for j in range(8)
        if j >= i
    ]
    g1 = spark.createDataFrame(rows, "i int, j int, s long")
    g2 = g1.repartition(13, "j")
    a = sorted((r.i, r.v_micro) for r in power_iteration_top_eigvec(g1, n_iters=7).collect())
    b = sorted((r.i, r.v_micro) for r in power_iteration_top_eigvec(g2, n_iters=7).collect())
    assert a == b


# ------------------------------------------------------------------- BPE


def _docs(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "text string")


def test_bpe_hand_computed_merges(spark):
    docs = _docs(spark, ["low low low low lower lowest", "new newer newest"])
    out = {r.merge_round: r for r in bpe_pair_merges(docs, "text", n_merges=3).collect()}
    # freqs: low 4, lower 1, lowest 1, new 1, newer 1, newest 1
    # round 1: (l,o)=6 ties (o,w)=6 -> lexicographic 'l' < 'o'
    assert (out[1].left, out[1].right, out[1].pair_count) == ("l", "o", 6)
    # round 2: (lo,w)=6 is now the top pair
    assert (out[2].left, out[2].right, out[2].pair_count) == ("lo", "w", 6)
    # round 3: (e,w)=... newer/newest/new have (e,w); (n,e)=3 ties ->
    # 'e' < 'n' wins
    assert (out[3].left, out[3].right) == ("e", "w")


def test_bpe_greedy_nonoverlap_on_symbol_runs(spark):
    # "aaaa" x2: round 1 pair (a,a) counts 3 per word = 6 total;
    # greedy rewrite must produce [aa, aa], so round 2 sees (aa,aa)=2
    docs = _docs(spark, ["aaaa aaaa"])
    out = {r.merge_round: r for r in bpe_pair_merges(docs, "text", n_merges=2).collect()}
    assert (out[1].left, out[1].right, out[1].pair_count) == ("a", "a", 6)
    assert (out[2].left, out[2].right, out[2].pair_count) == ("aa", "aa", 2)


def test_bpe_merged_token_does_not_remerge_within_round(spark):
    # "ababab": candidates at 1,3,5 (non-consecutive) -> all merge;
    # 'ab' appears 3x, then round 2 top pair is (ab, ab) count 2
    docs = _docs(spark, ["ababab"])
    out = {r.merge_round: r for r in bpe_pair_merges(docs, "text", n_merges=2).collect()}
    assert (out[1].left, out[1].right) == ("a", "b")
    assert (out[2].left, out[2].right, out[2].pair_count) == ("ab", "ab", 2)


def test_bpe_single_char_words_are_harmless(spark):
    docs = _docs(spark, ["a a a bc bc"])
    out = bpe_pair_merges(docs, "text", n_merges=1).collect()
    assert len(out) == 1
    assert (out[0].left, out[0].right, out[0].pair_count) == ("b", "c", 2)


def test_bpe_word_length_guard_raises(spark):
    docs = _docs(spark, ["x" * 40])
    with pytest.raises(Exception, match="max_word_len"):
        bpe_pair_merges(docs, "text", n_merges=1).collect()


def test_word_freq_symbols_shape(spark):
    docs = _docs(spark, ["Ab ab  AB"])
    rows = word_freq_symbols(docs, "text").collect()
    assert len(rows) == 1
    assert rows[0].word == "ab" and rows[0].freq == 3
    assert rows[0].syms == ["a", "b"]
