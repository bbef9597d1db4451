"""Scale-technique tests: bucketed co-located joins (no exchange),
runtime bloom-filter pruning, cache-free dedup pair generation, and
connected-components convergence."""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from owl_etl_spark.sources.readers import read_table


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketing both join sides on the key co-locates them at write
    time — the join plans WITHOUT a shuffle. This is the 100 TB recipe
    for repeated fact-fact joins (pay the shuffle once at load)."""
    import re

    import shutil

    o = read_table(spark, "/root/testdata/sf0.001", "orders")
    li = read_table(spark, "/root/testdata/sf0.001", "lineitem")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    # a previous session's drop removes only the catalog entry; orphaned
    # warehouse dirs block managed-table creation
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("orders_b", "lineitem_b"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("orders_b")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("lineitem_b")

    ob = spark.table("orders_b")
    lb = spark.table("lineitem_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).groupBy("o_orderpriority").count()
        plan = _plan_of(joined)
        # the join itself must not shuffle either side: no Exchange
        # between the scans and the SortMergeJoin (the final groupBy
        # exchange is expected)
        join_section = plan.split("SortMergeJoin")[0]
        scans = [l for l in join_section.splitlines() if "Scan" in l]
        assert "SortMergeJoin" in plan
        exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
        assert len(exchanges) <= 1, plan  # only the aggregation exchange

        # and results equal the plain join
        expected = {
            r.o_orderpriority: r["count"]
            for r in o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderpriority")
            .count()
            .collect()
        }
        got = {r.o_orderpriority: r["count"] for r in joined.collect()}
        assert got == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_runtime_bloom_filter_join_pruning(spark, tmp_path):
    """With broadcast disabled (big-dim case), Catalyst can still
    inject a bloom filter built from the filtered dimension into the
    fact scan — rows that can't join are dropped BEFORE the shuffle.
    Local thresholds are lowered to exercise the rule that fires
    automatically at real scale."""
    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    spark.range(0, 200_000).select(
        F.col("id").alias("fk"), (F.col("id") % 97).alias("v")
    ).write.parquet(fact_p)
    spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("cat")
    ).write.parquet(dim_p)

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("cat") == 3)
        joined = fact.join(dim, fact.fk == dim.k).groupBy("cat").count()
        plan = _plan_of(joined)
        assert "bloom" in plan.lower(), plan[:2000]
        got = joined.collect()
        expected = len([k for k in range(5_000) if k % 13 == 3])  # 1 fact row per dim key
        assert len(got) == 1 and got[0]["count"] == expected
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dedup_pair_generators_leave_no_cache(spark):
    """r1 VERDICT: minhash_lsh_pairs cached intermediates and never
    unpersisted — leaking executor memory across a long-lived session.
    It is now cache-free (groupBy pair expansion); after a full run the
    session must hold no MORE persisted RDDs than before."""
    from owl_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    # minhash pair generation is cache-free (groupBy pair expansion)
    minhash_lsh_pairs(docs).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_ngram_jaccard_hot_shingle_guard(spark):
    """r2 VERDICT finding #1: a Zipfian hot shingle with df=g puts
    g·(g-1)/2 candidate pairs into ONE join task in the unguarded
    inverted-index join. Hot postings (df > max_group) now run the
    chunked triangle expansion proven in minhash_lsh_pairs; this pins
    (a) output identity with the unguarded join on a corpus where one
    shingle appears in EVERY doc, (b) planted near-dup recall, and
    (c) call-scoped caching (nothing but the checkpointed pair results
    may persist past the calls)."""
    from owl_etl_spark.operators.dedup import ngram_jaccard_pairs

    n = 600
    rows = []
    for i in range(n):
        # every doc shares the hot 3-shingle "alpha beta gamma"
        tail = f"u{i} v{i} w{i} x{i} y{i} z{i}"
        if i % 3 == 1:  # plant a near-dup of doc i-1 (differs in last token)
            j = i - 1
            tail = f"u{j} v{j} w{j} x{j} y{j} z{i}"
        rows.append((i, f"alpha beta gamma {tail}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    # max_group=32 → the df=600 hot posting list splits into 19 chunks;
    # no task expands more than 32² pairs
    guarded = ngram_jaccard_pairs(docs, threshold=0.3, max_group=32)
    plain = ngram_jaccard_pairs(docs, threshold=0.3, max_group=1 << 30)
    g = sorted((r.id_a, r.id_b, r.jaccard) for r in guarded.collect())
    p = sorted((r.id_a, r.id_b, r.jaccard) for r in plain.collect())
    assert g == p, "guarded output diverged from unguarded join"
    planted = {(i - 1, i) for i in range(n) if i % 3 == 1}
    got = {(a, b) for a, b, _ in g}
    assert planted <= got, f"missing planted pairs: {sorted(planted - got)[:5]}"
    # hot-shingle-only pairs (J = 1/13) must stay below threshold
    assert got == planted, f"unexpected extra pairs: {sorted(got - planted)[:5]}"
    grew = spark.sparkContext._jsc.getPersistentRDDs().size() - before
    assert grew <= 2, f"persistent RDDs grew by {grew} (> the 2 results)"


def test_connected_components_lineage_truncated(spark):
    """r1 VERDICT: each round's convergence check re-executed all prior
    rounds (O(rounds^2)). With per-round localCheckpoint the returned
    plan must be a flat scan of checkpointed data — no join lineage."""
    from owl_etl_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5 needs several propagation rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 5)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, 6)], ["doc_id"])
    out = connected_components(pairs, ids)
    assert {r.component for r in out.collect()} == {1}
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan


def test_connected_components_unconverged_raises(spark, monkeypatch):
    """A truncated (max_iters-exhausted) labeling is not a clustering;
    strict mode must refuse to return it, non-strict must warn."""
    import warnings

    import pytest

    from owl_etl_spark import session
    from owl_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, 9)], ["doc_id"])
    # force the distributed rounds (r13: the exact union-find fast path
    # for model-sized edge sets always converges — this test pins the
    # DISTRIBUTED loop's truncation contract)
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, ids, max_iters=1)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(pairs, ids, max_iters=1, strict=False).collect()
    assert any("did not converge" in str(x.message) for x in w)


def test_star_contraction_matches_minlabel(spark):
    """connected_components_star must produce the identical
    (node → min-reachable-id) labeling as min-label propagation, on a
    graph mixing cliques, a chain, bridges and isolated nodes."""
    from owl_etl_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = (
        [(1, 2), (2, 3), (1, 3)]  # clique
        + [(10, 11), (11, 12), (12, 13), (13, 14)]  # chain
        + [(3, 10)]  # bridge: merges both into component 1
        + [(20, 21)]  # separate pair
    )
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 12, 13, 14, 20, 21, 99]], ["doc_id"]
    )
    ml = {r.doc_id: r.component for r in connected_components(pairs, ids).collect()}
    st = {r.doc_id: r.component for r in connected_components_star(pairs, ids).collect()}
    assert st == ml
    assert st[14] == 1 and st[21] == 20 and st[99] == 99


def test_star_contraction_converges_on_deep_chain(spark):
    """The point of the star strategy: a diameter-60 chain needs 60
    min-label rounds but only O(log² n) star rounds. max_iters=10 must
    converge (min-label provably cannot) and still label every node
    with the chain minimum."""
    from owl_etl_spark.operators.dedup import connected_components_star

    n = 60
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, n)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    out = {r.doc_id: r.component for r in connected_components_star(pairs, ids, max_iters=10).collect()}
    assert out == {i: 1 for i in range(1, n + 1)}


def test_star_contraction_nonstrict_one_row_per_node(spark, monkeypatch):
    """Non-strict + unconverged: the raw edge set is NOT a star (a
    node can be `hi` in several edges), so the non-strict path must
    still emit exactly one row per input id — labels may be truncated,
    but the shape contract (one component per node) holds."""
    import warnings

    from owl_etl_spark import session
    from owl_etl_spark.operators.dedup import connected_components_star

    n = 60
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, n)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 0)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        # force the distributed rounds (r13 added an exact union-find
        # fast path for model-sized edge sets, which always converges —
        # this test pins the truncated DISTRIBUTED path's shape)
        rows = connected_components_star(
            pairs, ids, max_iters=1, strict=False
        ).collect()
    assert any("did not converge" in str(x.message) for x in w)
    assert len(rows) == n
    assert len({r.doc_id for r in rows}) == n


def test_star_contraction_on_lsh_edges_matches_q98_form(spark):
    """On the real q98 edge list (LSH pairs over documents), star and
    min-label must agree — pins the strategy swap as behavior-
    preserving for the registered query's graph shape."""
    from owl_etl_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        minhash_lsh_pairs,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_lsh_pairs(d, bands=8)
    ids = d.select("doc_id")
    ml = {r.doc_id: r.component for r in connected_components(pairs, ids).collect()}
    st = {r.doc_id: r.component for r in connected_components_star(pairs, ids).collect()}
    assert st == ml


def test_minhash_lsh_skew_guard_chunks_giant_buckets(spark):
    """r1 VERDICT stretch: a massive exact-duplicate class lands all its
    members in one band bucket; without a guard, one task materializes
    g*(g-1)/2 pairs. With max_group=g_cap the bucket is split into
    chunk-PAIR rows, each expanding at most g_cap^2 pairs, and the
    output is identical to the uncapped expansion."""
    from owl_etl_spark.operators.dedup import minhash_lsh_pairs

    base = "spark window join filter scan table row batch stream merge"
    n_dup = 300
    rows = [(i, base) for i in range(n_dup)] + [
        (1000, "totally different words apple banana"),
        (1001, "another unrelated document entirely separate tokens"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = minhash_lsh_pairs(df, bands=8, max_group=64)
    # output identity vs the effectively-uncapped form
    uncapped = minhash_lsh_pairs(df, bands=8, max_group=1 << 20)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    want = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert got == want
    assert len(got) == n_dup * (n_dup - 1) // 2  # the full dup-class clique

    # per-task bound: the plan must show the two-stage expansion —
    # chunk-pair explode, then a repartition exchange that spreads the
    # chunk-pair rows, then the pair explode. Each expansion row
    # carries chunk slices of at most max_group ids -> <= max_group^2
    # pairs per task.
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate explode") >= 2, plan
    assert "REPARTITION_BY_COL" in plan or "hashpartitioning(band" in plan, plan


def test_star_contraction_driver_path_matches_distributed(spark, monkeypatch):
    """r13: model-sized edge sets take an exact union-find driver path
    (literal mapping frame). Labels must equal the distributed star
    contraction's on the same graph — component = min reachable id is
    algorithm-independent, and this pins it."""
    from owl_etl_spark import session
    from owl_etl_spark.operators.dedup import connected_components_star

    # two chains, a triangle, and singletons
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (21, 20)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]], ["doc_id"]
    )
    fast = sorted(
        (r.doc_id, r.component)
        for r in connected_components_star(pairs, ids).collect()
    )
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 0)
    dist = sorted(
        (r.doc_id, r.component)
        for r in connected_components_star(pairs, ids).collect()
    )
    assert fast == dist
    assert dict(fast)[99] == 99  # singleton keeps its own id


def test_min_label_cc_driver_path_matches_distributed(spark, monkeypatch):
    """r13: model-sized dup graphs take the exact union-find driver
    path in connected_components too — labels must equal the
    distributed min-label rounds' on the same graph."""
    from owl_etl_spark import session
    from owl_etl_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]], ["doc_id"]
    )
    fast = sorted(
        (r.doc_id, r.component)
        for r in connected_components(pairs, ids).collect()
    )
    monkeypatch.setattr(session, "DRIVER_REPLAY_MAX_ROWS", 0)
    dist = sorted(
        (r.doc_id, r.component)
        for r in connected_components(pairs, ids).collect()
    )
    assert fast == dist
    assert dict(fast)[99] == 99


