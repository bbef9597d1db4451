"""Round-4 operator units: count-min sketch, A-ES weighted sampling,
MAD outliers, linear interpolation, streaming exact-dedup.

Gate queries q113–q117 pin each operator against the DuckDB oracle;
these tests pin the library-level contracts the gate can't see
(mergeability, repartition stability, weighted-sampling bias,
interpolation edge cases, streaming state eviction semantics).
"""

import pytest

# r13 test tiering (VERDICT r12 #2): this suite runs in the FULL tier
# (tools/round_close.py --full-tests); the default time-boxed tier
# excludes it so the driver's verification window completes.
pytestmark = pytest.mark.full

from pyspark.sql import Row
from pyspark.sql import functions as F

from owl_etl_spark.operators.profile import mad_outlier_report
from owl_etl_spark.operators.resample import interpolate_linear
from owl_etl_spark.operators.sketches import cms_build, cms_estimate
from owl_etl_spark.operators.split import weighted_sample_aes


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def word_df(spark):
    words = (["alpha"] * 50 + ["beta"] * 20 + ["gamma"] * 5 + ["delta"] * 1) * 2
    return spark.createDataFrame([Row(word=w, half=i % 2) for i, w in enumerate(words)])


def test_cms_never_undercounts(spark, word_df):
    """The CMS one-sided guarantee: est(k) >= true count for EVERY key."""
    sketch = cms_build(word_df, "word", depth=4, width=64)
    exact = {r["word"]: r["n"] for r in word_df.groupBy("word").agg(F.count("*").alias("n")).collect()}
    keys = word_df.select("word").distinct()
    est = {r["word"]: r["est"] for r in cms_estimate(sketch, keys, "word", width=64).collect()}
    assert set(est) == set(exact)
    for k in exact:
        assert est[k] >= exact[k], (k, est[k], exact[k])


def test_cms_exact_when_wide(spark, word_df):
    """With width >> distinct keys, collisions vanish and estimates
    are exact — the regime q113 verifies hash-exactly at sf scale."""
    sketch = cms_build(word_df, "word", depth=4, width=4096)
    exact = {r["word"]: r["n"] for r in word_df.groupBy("word").agg(F.count("*").alias("n")).collect()}
    keys = word_df.select("word").distinct()
    est = {r["word"]: r["est"] for r in cms_estimate(sketch, keys, "word", width=4096).collect()}
    assert est == exact


def test_cms_merges_by_cellwise_sum(spark, word_df):
    """Sketches over disjoint halves, merged cell-wise, must equal the
    one-shot sketch — the monthly-drop accumulation contract."""
    full = cms_build(word_df, "word", depth=4, width=64)
    h0 = cms_build(word_df.filter("half = 0"), "word", depth=4, width=64)
    h1 = cms_build(word_df.filter("half = 1"), "word", depth=4, width=64)
    merged = (
        h0.unionByName(h1)
        .groupBy("row", "cell")
        .agg(F.sum("count").alias("count"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_cms_unseen_key_estimates_safely(spark, word_df):
    """Probing a key the sketch never saw returns a finite >= 0
    estimate (0 when its cells are untouched), never an error/null."""
    sketch = cms_build(word_df, "word", depth=4, width=4096)
    keys = spark.createDataFrame([Row(word="neverseen")])
    [row] = cms_estimate(sketch, keys, "word", width=4096).collect()
    assert row["est"] == 0


def test_cms_weighted_build(spark):
    """count_col pre-aggregated weights count as that many occurrences."""
    pre = spark.createDataFrame([Row(word="x", n=7), Row(word="y", n=3)])
    raw = spark.createDataFrame([Row(word="x")] * 7 + [Row(word="y")] * 3)
    a = cms_build(pre, "word", depth=2, width=32, count_col="n")
    b = cms_build(raw, "word", depth=2, width=32)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# A-ES weighted sampling
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def weighted_df(spark):
    # 200 heavy rows (weight 50) + 200 light rows (weight 1)
    rows = [Row(id=i, w=50 if i < 200 else 1) for i in range(400)]
    return spark.createDataFrame(rows)


def test_aes_repartition_stable(spark, weighted_df):
    """The selected set is a pure row function — identical under any
    partitioning (df.sample's failure mode)."""
    a = weighted_sample_aes(weighted_df, "id", "w", k=50)
    b = weighted_sample_aes(weighted_df.repartition(13, "w"), "id", "w", k=50)
    assert sorted(r["id"] for r in a.collect()) == sorted(r["id"] for r in b.collect())


def test_aes_k_and_no_replacement(spark, weighted_df):
    out = weighted_sample_aes(weighted_df, "id", "w", k=50).collect()
    ids = [r["id"] for r in out]
    assert len(ids) == 50 and len(set(ids)) == 50


def test_aes_biases_toward_weight(spark, weighted_df):
    """Half the rows carry 50x the weight; the k=50 sample should be
    overwhelmingly heavy rows (P[light row wins a slot] is tiny)."""
    out = weighted_sample_aes(weighted_df, "id", "w", k=50).collect()
    heavy = sum(1 for r in out if r["w"] == 50)
    assert heavy >= 45, heavy


def test_aes_k_larger_than_n(spark):
    small = spark.createDataFrame([Row(id=i, w=1) for i in range(5)])
    assert weighted_sample_aes(small, "id", "w", k=50).count() == 5


# ---------------------------------------------------------------------------
# MAD outliers
# ---------------------------------------------------------------------------


def test_mad_known_values(spark):
    """g: values 1..9 plus one gross outlier 1000.
    median of [1..9, 1000] = 5.5; sorted adev =
    [0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,994.5] → MAD = 2.5;
    threshold = 3*1.4826*2.5 ≈ 11.12 → exactly one outlier (994.5)."""
    df = spark.createDataFrame([Row(g="a", v=v) for v in list(range(1, 10)) + [1000]])
    [r] = mad_outlier_report(df, ["g"], "v").collect()
    assert r["n"] == 10
    assert r["median"] == 5.5
    assert r["mad"] == 2.5
    assert r["n_outliers"] == 1
    assert abs(r["outlier_pct"] - 10.0) < 1e-9


def test_mad_zero_mad_group(spark):
    """A constant group has MAD 0; any deviation is an outlier, equal
    values are not (strict >)."""
    df = spark.createDataFrame([Row(g="c", v=7)] * 5 + [Row(g="c", v=8)])
    [r] = mad_outlier_report(df, ["g"], "v").collect()
    assert r["mad"] == 0.0 and r["n_outliers"] == 1


def test_mad_multi_group_independent(spark):
    df = spark.createDataFrame(
        [Row(g="a", v=v) for v in [1, 2, 3]] + [Row(g="b", v=v) for v in [100, 200, 300]]
    )
    out = {r["g"]: r for r in mad_outlier_report(df, ["g"], "v").collect()}
    assert out["a"]["median"] == 2.0 and out["b"]["median"] == 200.0
    assert out["a"]["n_outliers"] == 0 and out["b"]["n_outliers"] == 0


# ---------------------------------------------------------------------------
# linear interpolation
# ---------------------------------------------------------------------------


def _series(spark, vals):
    rows = [
        Row(k="s", bucket=f"2024-01-01 {h:02d}:00:00", v=v)
        for h, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows).select(
        "k", F.col("bucket").cast("timestamp_ntz").alias("bucket"), F.col("v").cast("long").alias("v")
    )


def test_interp_fills_interior_gap_linearly(spark):
    # 10, null, null, 40 → 20, 30 at the gap hours
    df = _series(spark, [10, None, None, 40])
    out = {r["bucket"].hour: r["value_interp"] for r in interpolate_linear(df, ["k"], "bucket", "v").collect()}
    assert out == {0: 10.0, 1: 20.0, 2: 30.0, 3: 40.0}


def test_interp_edges_extrapolate_nearest(spark):
    # null, 10, null, 30, null → 10 (leading), 20, 30 (trailing)
    df = _series(spark, [None, 10, None, 30, None])
    out = {r["bucket"].hour: r["value_interp"] for r in interpolate_linear(df, ["k"], "bucket", "v").collect()}
    assert out == {0: 10.0, 1: 10.0, 2: 20.0, 3: 30.0, 4: 30.0}


def test_interp_observed_rows_pass_through(spark):
    df = _series(spark, [5, 6, 7])
    out = [r["value_interp"] for r in interpolate_linear(df, ["k"], "bucket", "v").orderBy("bucket").collect()]
    assert out == [5.0, 6.0, 7.0]


def test_interp_uneven_spacing_uses_time_ratio(spark):
    """A 3-hour gap interpolates by time fraction, not row count."""
    rows = [
        Row(k="s", bucket="2024-01-01 00:00:00", v=0),
        Row(k="s", bucket="2024-01-01 01:00:00", v=None),
        Row(k="s", bucket="2024-01-01 04:00:00", v=40),
    ]
    df = spark.createDataFrame(rows).select(
        "k", F.col("bucket").cast("timestamp_ntz").alias("bucket"), F.col("v").cast("long").alias("v")
    )
    out = {r["bucket"].hour: r["value_interp"] for r in interpolate_linear(df, ["k"], "bucket", "v").collect()}
    assert out[1] == 10.0  # 1h of 4h between 0 and 40


# ---------------------------------------------------------------------------
# streaming exact-dedup
# ---------------------------------------------------------------------------


def test_streaming_dedup_restores_exactly_once(spark, tmp_path):
    from owl_etl_spark.streaming.dedup_stream import streaming_exact_dedup

    src_dir = str(tmp_path / "src")
    base = spark.range(100).select(
        F.col("id").alias("k"),
        F.expr(
            "timestampadd(SECOND, CAST(id AS INT), TIMESTAMP '2024-01-01 00:00:00')"
        ).alias("ts"),
    )
    base.write.parquet(src_dir)
    stream = (
        spark.readStream.schema("k bigint, ts timestamp")
        .parquet(src_dir)
        .withColumn("__c", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
        .drop("__c")
    )
    deduped = streaming_exact_dedup(stream, ["k"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_sdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_sdedup")
    assert got.count() == 100
    assert got.select("k").distinct().count() == 100


# ---------------------------------------------------------------------------
# sliding (hopping) windows
# ---------------------------------------------------------------------------


def test_sliding_counts_batch_overlap_factor(spark):
    """Batch form: one event at 00:37 lands in exactly 4 hopping
    windows (1h window / 15min slide) whose starts step back by 15min."""
    from owl_etl_spark.streaming.windows import sliding_event_counts

    df = spark.createDataFrame(
        [("2024-01-01 00:37:00", "click", 2.0)], ["ts", "event_type", "value"]
    ).select(F.col("ts").cast("timestamp"), "event_type", "value")
    out = sliding_event_counts(df).orderBy("window_start").collect()
    assert len(out) == 4
    assert all(r["n_events"] == 1 and r["total_value"] == 2.0 for r in out)
    starts = [str(r["window_start"]) for r in out]
    assert starts == sorted(starts)


def test_sliding_equals_tumbling_when_slide_is_window(spark):
    from owl_etl_spark.streaming.windows import hourly_event_counts, sliding_event_counts

    df = spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", "a", 1.0),
            ("2024-01-01 00:50:00", "a", 2.0),
            ("2024-01-01 01:10:00", "b", 3.0),
        ],
        ["ts", "event_type", "value"],
    ).select(F.col("ts").cast("timestamp"), "event_type", "value")
    s = sorted(map(tuple, sliding_event_counts(df, window="1 hour", slide="1 hour").collect()))
    t = sorted(map(tuple, hourly_event_counts(df).collect()))
    assert s == t


# ---------------------------------------------------------------------------
# incremental join-view maintenance
# ---------------------------------------------------------------------------


def test_join_view_delta_equals_full_recompute(spark):
    """old+Δ must equal the full join over (old ∪ new) on both sides,
    with exact bag semantics (duplicates preserved)."""
    from owl_etl_spark.operators.rollup import join_view_merge

    L = spark.createDataFrame(
        [Row(k=1, a="x"), Row(k=1, a="x2"), Row(k=2, a="y"), Row(k=3, a="z")]
    )
    R = spark.createDataFrame(
        [Row(k=1, b="p"), Row(k=2, b="q"), Row(k=2, b="q2"), Row(k=4, b="r")]
    )
    oL, nL = L.filter("k <= 2"), L.filter("k > 2")
    oR, nR = R.filter("k != 2"), R.filter("k = 2")
    view0 = oL.join(oR, ["k"])
    maintained = join_view_merge(view0, oL, nL, oR, nR, ["k"])
    full = L.join(R, ["k"])
    assert sorted(map(tuple, maintained.collect())) == sorted(map(tuple, full.collect()))


def test_join_view_delta_terms_disjoint(spark):
    """Each joined pair appears exactly once across view0 + the three
    delta terms (the match classes partition old/new × old/new)."""
    from owl_etl_spark.operators.rollup import join_view_delta

    L = spark.createDataFrame([Row(k=i % 3, a=i) for i in range(9)])
    R = spark.createDataFrame([Row(k=i % 3, b=i) for i in range(9)])
    oL, nL = L.filter("a < 5"), L.filter("a >= 5")
    oR, nR = R.filter("b < 4"), R.filter("b >= 4")
    delta = join_view_delta(oL, nL, oR, nR, ["k"])
    combined = oL.join(oR, ["k"]).unionByName(delta)
    assert combined.count() == combined.distinct().count() == L.join(R, ["k"]).count()


# ---------------------------------------------------------------------------
# entity resolution (record linkage)
# ---------------------------------------------------------------------------


def test_resolve_entities_links_variants_not_strangers(spark):
    from owl_etl_spark.operators.linkage import resolve_entities

    df = spark.createDataFrame(
        [
            Row(id=1, name="Acme Holdings"),
            Row(id=2, name="ACME holdings"),    # case variant -> same entity
            Row(id=3, name="Acmee Holdings"),   # typo (non-block token) -> same entity
            Row(id=4, name="Zenith Holdings"), # same block, dissimilar name
            Row(id=5, name="Blue Rocket"),     # different block entirely
        ]
    )
    out = {r["id"]: r["entity_id"] for r in resolve_entities(df, "id", "name").collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] != out[1] and out[5] != out[1]
    assert len(out) == 5  # every record labeled, singletons included


def test_resolve_entities_transitive(spark):
    """A~B and B~C but A~C below threshold must still cluster together
    (components give transitivity — the reason scoring alone is not
    resolution)."""
    from owl_etl_spark.operators.linkage import resolve_entities, similarity_edges

    df = spark.createDataFrame(
        [
            Row(id=1, name="alpha beta gamma zzz"),
            Row(id=2, name="alpha beta gamno zzz"),
            Row(id=3, name="alpha bedda gamno zzz"),
        ]
    )
    edges = {(r["id_a"], r["id_b"]) for r in similarity_edges(df, "id", "name", 0.6).collect()}
    out = {r["id"]: r["entity_id"] for r in resolve_entities(df, "id", "name").collect()}
    assert out[1] == out[2] == out[3] == 1
    assert (1, 3) not in edges  # the chain, not a direct edge, linked them


def test_similarity_edges_blocking_prevents_cross_block_pairs(spark):
    from owl_etl_spark.operators.linkage import similarity_edges

    df = spark.createDataFrame(
        [Row(id=1, name="acme widget"), Row(id=2, name="acme gadget")]
    )
    # different last tokens -> different blocks -> no pair at any score
    assert similarity_edges(df, "id", "name", 0.0).count() == 0


# ---------------------------------------------------------------------------
# PSI drift
# ---------------------------------------------------------------------------


def test_psi_identical_windows_near_zero(spark):
    from owl_etl_spark.operators.drift import psi_report

    df = spark.createDataFrame([Row(g="a", v=i % 100) for i in range(1000)])
    [r] = psi_report(df, df, ["g"], "v").collect()
    assert r["psi_micro_nats"] == 0
    assert r["verdict"] == "stable"


def test_psi_shifted_window_flags_drift(spark):
    from owl_etl_spark.operators.drift import psi_report

    ref = spark.createDataFrame([Row(g="a", v=i % 100) for i in range(1000)])
    cur = spark.createDataFrame([Row(g="a", v=400 + i % 100) for i in range(1000)])
    [r] = psi_report(ref, cur, ["g"], "v").collect()
    # everything lands in the clamp bin -> massive PSI
    assert r["verdict"] == "drifted"
    assert r["psi_micro_nats"] > 1_000_000


def test_psi_out_of_range_values_clamp(spark):
    from owl_etl_spark.operators.drift import psi_report

    ref = spark.createDataFrame([Row(g="a", v=v) for v in range(10, 110)])
    cur = spark.createDataFrame(
        [Row(g="a", v=-5), Row(g="a", v=999), Row(g="a", v=50)]
    )
    [r] = psi_report(ref, cur, ["g"], "v").collect()
    assert r["n_cur"] == 3  # nothing dropped; edges absorbed the outliers


def test_psi_groups_independent(spark):
    from owl_etl_spark.operators.drift import psi_report

    ref = spark.createDataFrame(
        [Row(g="a", v=i % 50) for i in range(500)]
        + [Row(g="b", v=i % 50) for i in range(500)]
    )
    cur = spark.createDataFrame(
        [Row(g="a", v=i % 50) for i in range(500)]
        + [Row(g="b", v=45 + i % 5) for i in range(500)]
    )
    out = {r["g"]: r for r in psi_report(ref, cur, ["g"], "v").collect()}
    assert out["a"]["verdict"] == "stable"
    assert out["b"]["verdict"] == "drifted"


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def test_pagerank_hand_check_and_dangling(spark):
    """a->b only: a keeps the teleport term (150000), b converges to
    150000 + round(0.85 * round(150000/1)) = 277500. Dangling b leaks
    its mass (documented simple variant)."""
    from owl_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame([Row(src="a", dst="b")])
    nodes = spark.createDataFrame([Row(node="a"), Row(node="b")])
    out = {r["node"]: r["rank_micro_units"] for r in pagerank(edges, nodes, n_iters=3).collect()}
    assert out == {"a": 150_000, "b": 277_500}


def test_pagerank_cycle_is_fixed_point(spark):
    """A symmetric 2-cycle keeps every node at exactly 1.0 (1e6)."""
    from owl_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame([Row(src="a", dst="b"), Row(src="b", dst="a")])
    nodes = spark.createDataFrame([Row(node="a"), Row(node="b")])
    out = {r["node"]: r["rank_micro_units"] for r in pagerank(edges, nodes, n_iters=4).collect()}
    assert out == {"a": 1_000_000, "b": 1_000_000}


def test_pagerank_parallel_edges_weight(spark):
    """src with 3 parallel edges to b and 1 to c splits rank 3:1."""
    from owl_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [Row(src="a", dst="b")] * 3 + [Row(src="a", dst="c")]
    )
    nodes = spark.createDataFrame([Row(node=n) for n in "abc"])
    out = {r["node"]: r["rank_micro_units"] for r in pagerank(edges, nodes, n_iters=1).collect()}
    # a's 1e6 splits into 4 deg shares of 250000: b gets 3, c gets 1
    assert out["b"] == 150_000 + round(0.85 * 750_000)
    assert out["c"] == 150_000 + round(0.85 * 250_000)


def test_pagerank_repartition_stable(spark):
    """Integer micro-unit arithmetic makes the vector bit-identical
    under any partitioning (float PageRank would drift at the ulp)."""
    from owl_etl_spark.operators.graph import pagerank

    import random

    rnd = random.Random(5)
    edges = spark.createDataFrame(
        [Row(src=rnd.randrange(30), dst=rnd.randrange(30)) for _ in range(300)]
    )
    nodes = spark.createDataFrame([Row(node=i) for i in range(30)])
    a = {r["node"]: r["rank_micro_units"] for r in pagerank(edges, nodes, n_iters=4).collect()}
    b = {
        r["node"]: r["rank_micro_units"]
        for r in pagerank(edges.repartition(17), nodes.repartition(3), n_iters=4).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# token co-occurrence PMI
# ---------------------------------------------------------------------------


def test_pmi_hand_check(spark):
    """4 docs; x and y always co-occur (PMI = ln(4·n/(df·df)) > 0),
    x and z never do (pair absent)."""
    from owl_etl_spark.operators.cooccur import token_pmi_pairs

    import math

    docs = [
        Row(doc_id=1, text="alpha beta"),
        Row(doc_id=2, text="alpha beta"),
        Row(doc_id=3, text="alpha beta"),
        Row(doc_id=4, text="gamma delta"),
    ]
    out = token_pmi_pairs(
        spark.createDataFrame(docs), "doc_id", "text", top_vocab=10, min_pair_count=1
    ).collect()
    pairs = {(r["tok_a"], r["tok_b"]): r for r in out}
    assert ("alpha", "beta") in pairs and ("delta", "gamma") in pairs
    assert ("alpha", "gamma") not in pairs
    ab = pairs[("alpha", "beta")]
    assert ab["n_ab"] == 3 and ab["df_a"] == 3 and ab["df_b"] == 3
    # PMI = ln(3*4/(3*3)) = ln(4/3)
    assert ab["pmi_micro_nats"] == round(math.log(4 / 3) * 1e6)


def test_pmi_repeated_mentions_count_once(spark):
    from owl_etl_spark.operators.cooccur import token_pmi_pairs

    docs = [Row(doc_id=1, text="echo echo echo foxtrot"), Row(doc_id=2, text="echo foxtrot")]
    [r] = token_pmi_pairs(
        spark.createDataFrame(docs), "doc_id", "text", top_vocab=10, min_pair_count=1
    ).collect()
    assert (r["tok_a"], r["tok_b"], r["n_ab"]) == ("echo", "foxtrot", 2)


def test_pmi_vocab_bound_limits_pairs(spark):
    """Tokens outside the top-vocab must never appear in pairs — the
    bound that keeps the quadratic step survivable."""
    from owl_etl_spark.operators.cooccur import token_pmi_pairs

    docs = [
        Row(doc_id=i, text="commona commonb rare%s" % ("x" * (i + 1))) for i in range(10)
    ]
    out = token_pmi_pairs(
        spark.createDataFrame(docs), "doc_id", "text", top_vocab=2, min_pair_count=1
    ).collect()
    toks = {t for r in out for t in (r["tok_a"], r["tok_b"])}
    assert toks == {"commona", "commonb"}


def test_select_canonical_longest_wins_with_counts(spark):
    from owl_etl_spark.operators.linkage import select_canonical

    df = spark.createDataFrame(
        [Row(id=1, size=10), Row(id=2, size=30), Row(id=3, size=30), Row(id=4, size=5)]
    )
    labels = spark.createDataFrame(
        [Row(id=1, entity_id=1), Row(id=2, entity_id=1), Row(id=3, entity_id=1),
         Row(id=4, entity_id=4)]
    )
    out = {r["entity_id"]: r for r in select_canonical(
        df, labels, "id", order_exprs=[F.col("size").desc()]
    ).collect()}
    # size tie between 2 and 3 -> lower id wins; singleton survives itself
    assert out[1]["id"] == 2 and out[1]["n_members"] == 3
    assert out[4]["id"] == 4 and out[4]["n_members"] == 1


def test_select_canonical_plans_window_group_limit(spark):
    import contextlib, io

    from owl_etl_spark.operators.linkage import select_canonical

    df = spark.createDataFrame([Row(id=i, size=i) for i in range(20)])
    labels = spark.createDataFrame([Row(id=i, entity_id=i % 3) for i in range(20)])
    out = select_canonical(df, labels, "id", order_exprs=[F.col("size").desc()])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "WindowGroupLimit" in buf.getvalue()


# ---------------------------------------------------------------------------
# bucket checksum reconciliation
# ---------------------------------------------------------------------------


def test_checksum_diff_identical_tables_all_match(spark):
    from owl_etl_spark.operators.diff import bucket_checksum_diff

    df = spark.createDataFrame([Row(k=i, v="x%d" % i) for i in range(200)])
    out = bucket_checksum_diff(df, df, "k", ["v"], n_buckets=16).collect()
    assert len(out) == 16
    assert all(r["match"] and r["n_a"] == r["n_b"] for r in out)


def test_checksum_diff_localizes_a_single_change(spark):
    """One mutated row flips exactly ONE bucket — the property that
    scopes drill-down to 1/n_buckets of the data."""
    from owl_etl_spark.operators.diff import bucket_checksum_diff

    a = spark.createDataFrame([Row(k=i, v="x") for i in range(200)])
    b = spark.createDataFrame([Row(k=i, v="y" if i == 57 else "x") for i in range(200)])
    out = bucket_checksum_diff(a, b, "k", ["v"], n_buckets=16).collect()
    bad = [r for r in out if not r["match"]]
    assert len(bad) == 1
    assert bad[0]["n_a"] == bad[0]["n_b"]  # same count, different content — xor/sum caught it


def test_checksum_diff_counts_catch_deletes(spark):
    from owl_etl_spark.operators.diff import bucket_checksum_diff

    a = spark.createDataFrame([Row(k=i, v="x") for i in range(100)])
    b = a.filter("k != 31")
    out = bucket_checksum_diff(a, b, "k", ["v"], n_buckets=8).collect()
    bad = [r for r in out if not r["match"]]
    assert len(bad) == 1 and bad[0]["n_a"] == bad[0]["n_b"] + 1


def test_checksum_diff_xor_blindspot_covered_by_sum(spark):
    """Two copies of the same new row XOR to the old fingerprint if a
    row is swapped for itself twice — the mod-P sum term must still
    catch content changes XOR alone could miss. Construct a same-count
    bucket where xor(a)=xor(b) but rows differ."""
    from owl_etl_spark.operators.diff import bucket_checksum_diff

    # duplicate-row tables: a has {r1, r1}, b has {r2, r2} in one bucket
    a = spark.createDataFrame([Row(k=1, v="p"), Row(k=1, v="p")])
    b = spark.createDataFrame([Row(k=1, v="q"), Row(k=1, v="q")])
    out = bucket_checksum_diff(a, b, "k", ["v"], n_buckets=4).collect()
    bad = [r for r in out if not r["match"]]
    # xor of a double row is 0 on both sides; the sum term still differs
    assert len(bad) == 1


def test_cms_inner_product_never_undercounts_and_exact_when_wide(spark):
    from owl_etl_spark.operators.sketches import cms_build, cms_inner_product

    a = spark.createDataFrame([Row(k=i % 7) for i in range(70)])     # 10 each
    b = spark.createDataFrame([Row(k=i % 5) for i in range(25)])     # 5 each
    exact = 5 * 10 * 5  # keys 0..4 shared: 10*5 each
    wide_a = cms_build(a, "k", depth=4, width=2048)
    wide_b = cms_build(b, "k", depth=4, width=2048)
    [r] = cms_inner_product(wide_a, wide_b).collect()
    assert r["est_join_size"] == exact
    tight_a = cms_build(a, "k", depth=4, width=4)
    tight_b = cms_build(b, "k", depth=4, width=4)
    [r2] = cms_inner_product(tight_a, tight_b).collect()
    assert r2["est_join_size"] >= exact  # collisions only inflate


def test_trend_report_hand_check(spark):
    """y = 3x + 10 exactly: slope 3, intercept 10, r2 1; a constant
    group has dyy = 0 -> r2 null, slope 0."""
    from owl_etl_spark.operators.profile import trend_report

    df = spark.createDataFrame(
        [Row(g="lin", x=x, y=3 * x + 10) for x in range(10)]
        + [Row(g="flat", x=x, y=7) for x in range(10)]
    )
    out = {r["g"]: r for r in trend_report(df, ["g"], "x", "y").collect()}
    assert out["lin"]["slope"] == 3.0 and out["lin"]["intercept"] == 10.0
    assert out["lin"]["r2"] == 1.0
    assert out["flat"]["slope"] == 0.0 and out["flat"]["r2"] is None


def test_trend_report_repartition_stable(spark):
    """Exact integer sums: identical results under any partitioning
    (the drift built-in regr_slope's double accumulation allows)."""
    from owl_etl_spark.operators.profile import trend_report

    import random

    rnd = random.Random(3)
    rows = [Row(g=i % 3, x=i % 97, y=rnd.randrange(10000)) for i in range(3000)]
    df = spark.createDataFrame(rows)
    a = sorted(map(tuple, trend_report(df, ["g"], "x", "y").collect()))
    b = sorted(map(tuple, trend_report(df.repartition(23), ["g"], "x", "y").collect()))
    assert a == b


def test_cumulative_compound_hand_check(spark):
    """+10% then -10% compounds to -1% (0.99), not 0 — the reason
    returns compound multiplicatively."""
    from owl_etl_spark.operators.resample import cumulative_compound

    df = spark.createDataFrame(
        [Row(k="f", t=1, r=0.10), Row(k="f", t=2, r=-0.10), Row(k="f", t=3, r=0.0)]
    )
    out = {r["t"]: r["compounded"] for r in cumulative_compound(df, ["k"], "t", "r").collect()}
    assert out[1] == 0.1
    assert abs(out[2] - (-0.01)) < 1e-4
    assert out[2] == out[3]  # a 0% period changes nothing


def test_cumulative_compound_repartition_stable(spark):
    from owl_etl_spark.operators.resample import cumulative_compound

    import random

    rnd = random.Random(9)
    rows = [Row(k=i % 5, t=i, r=rnd.uniform(-0.2, 0.2)) for i in range(500)]
    df = spark.createDataFrame(rows)
    a = sorted(map(tuple, cumulative_compound(df, ["k"], "t", "r").collect()))
    b = sorted(map(tuple, cumulative_compound(df.repartition(19), ["k"], "t", "r").collect()))
    assert a == b


# ---------------------------------------------------------------------------
# review-fix regressions
# ---------------------------------------------------------------------------


def test_cms_inner_product_disjoint_is_zero(spark):
    """Disjoint key sets must estimate 0 (not NULL): zero-overlap
    sketch rows participate in the min via the dense spine."""
    from owl_etl_spark.operators.sketches import cms_build, cms_inner_product

    a = cms_build(spark.createDataFrame([Row(k=i) for i in range(10)]), "k", depth=4, width=4096)
    b = cms_build(
        spark.createDataFrame([Row(k=i) for i in range(100000, 100010)]), "k", depth=4, width=4096
    )
    [r] = cms_inner_product(a, b).collect()
    assert r["est_join_size"] == 0


def test_psi_new_segment_reported(spark):
    """A group present only in the current window must surface as
    'new_segment', never be silently dropped."""
    from owl_etl_spark.operators.drift import psi_report

    ref = spark.createDataFrame([Row(g="old", v=i % 50) for i in range(100)])
    cur = spark.createDataFrame(
        [Row(g="old", v=i % 50) for i in range(100)]
        + [Row(g="brand_new", v=i % 50) for i in range(40)]
    )
    out = {r["g"]: r for r in psi_report(ref, cur, ["g"], "v").collect()}
    assert out["old"]["verdict"] == "stable"
    nb = out["brand_new"]
    assert (nb["verdict"], nb["n_ref"], nb["n_cur"], nb["psi_micro_nats"]) == (
        "new_segment", 0, 40, None,
    )


def test_checksum_diff_separator_injection_detected(spark):
    """('x|y','z') vs ('x','y|z') used to serialize identically under
    '|'-joined payloads; per-column digests must tell them apart."""
    from owl_etl_spark.operators.diff import bucket_checksum_diff

    a = spark.createDataFrame([Row(k=1, c1="x|y", c2="z")])
    b = spark.createDataFrame([Row(k=1, c1="x", c2="y|z")])
    out = bucket_checksum_diff(a, b, "k", ["c1", "c2"], n_buckets=4).collect()
    assert any(not r["match"] for r in out)


def test_streaming_cdc_numeric_sequence_ordered(spark, tmp_path):
    """Integer sequences 9 vs 10: numeric order must win (the string
    comparison '9' > '10' bug). Auto zero-padding normalizes it."""
    import json as _json

    from owl_etl_spark.streaming.dedup_stream import streaming_cdc_apply

    src = tmp_path / "cdc_num"; src.mkdir()
    (src / "b0.json").write_text(
        _json.dumps({"k": 1, "seq": 9, "op": "upsert", "val": "old",
                     "ts": "2024-01-01T00:00:00"}) + "\n"
        + _json.dumps({"k": 1, "seq": 10, "op": "upsert", "val": "new",
                       "ts": "2024-01-01T00:01:00"}) + "\n"
    )
    stream = spark.readStream.schema(
        "k bigint, seq bigint, op string, val string, ts timestamp"
    ).json(str(src))
    out = streaming_cdc_apply(stream, ["k"], "seq", "op", "ts", state_timeout_ms=None)
    q = (
        out.writeStream.format("memory")
        .queryName("cdc_num_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT k, seq, val FROM cdc_num_test").collect()
    assert [(r.k, r.seq, r.val) for r in rows] == [(1, 10, "new")]


def test_streaming_cdc_float_sequence_rejected(spark):
    from owl_etl_spark.streaming.dedup_stream import streaming_cdc_apply

    import pytest as _pytest

    stream = spark.readStream.format("rate").load().selectExpr(
        "value AS k", "CAST(value AS DOUBLE) AS seq", "'upsert' AS op", "timestamp AS ts"
    )
    with _pytest.raises(ValueError, match="lexicographic"):
        streaming_cdc_apply(stream, ["k"], "seq", "op", "ts")
