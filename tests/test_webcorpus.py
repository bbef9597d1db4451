"""Web-corpus curation operators: URL canonicalization / registered
domain (functions/urls.py), per-domain caps (split.per_key_cap), and
cross-document segment dedup (dedup.dedup_segments)."""

from __future__ import annotations

from pyspark.sql import functions as F

from owl_etl_spark.functions.urls import canonicalize_url, registered_domain, url_host


def _canon_one(spark, url):
    return (
        spark.range(1)
        .select(canonicalize_url(F.lit(url)).alias("c"))
        .collect()[0]["c"]
    )


def test_canonicalize_url_policy(spark):
    cases = {
        "https://WWW.Example.com/p/3/?utm=x#frag": "example.com/p/3",
        "http://example.com/p/3": "example.com/p/3",
        "example.com/p/3/": "example.com/p/3",
        "ftp://www.Example.COM/a//": "example.com/a",
        "https://example.com": "example.com",
        "https://example.com/?q=1": "example.com",
        "https://wwwx.example.com/a": "wwwx.example.com/a",  # only exact www. strips
    }
    for url, want in cases.items():
        assert _canon_one(spark, url) == want, url
    # idempotence: canonical of canonical is itself
    for want in set(cases.values()):
        assert _canon_one(spark, want) == want


def test_registered_domain_heuristic(spark):
    cases = {
        "a.b.example.com": "example.com",
        "example.co.uk": "example.co.uk",
        "shop.example.co.uk": "example.co.uk",
        "foo.example.net": "example.net",
        "example.com": "example.com",
        "localhost": "localhost",
    }
    rows = spark.createDataFrame([(h,) for h in cases], ["host"]).select(
        "host", registered_domain(F.col("host")).alias("d")
    )
    got = {r.host: r.d for r in rows.collect()}
    assert got == cases


def test_url_host(spark):
    got = (
        spark.range(1)
        .select(url_host(F.lit("example.com/p/3")).alias("h"))
        .collect()[0]["h"]
    )
    assert got == "example.com"


def test_per_key_cap_plans_window_group_limit(spark):
    """The cap must plan as WindowGroupLimit (map-side group
    truncation before the single exchange) — the property that makes
    per-domain caps safe under domain skew."""
    from owl_etl_spark.operators.split import per_key_cap

    df = spark.createDataFrame(
        [("d1", i, 100 - i) for i in range(20)] + [("d2", 100, 7)],
        ["domain", "doc_id", "n_chars"],
    )
    capped = per_key_cap(df, ["domain"], [F.col("n_chars").desc(), F.col("doc_id")], 3)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    got = {(r.domain, r.doc_id) for r in capped.collect()}
    # d1: top-3 by n_chars desc = doc_ids 0,1,2 ; d2: its only row
    assert got == {("d1", 0), ("d1", 1), ("d1", 2), ("d2", 100)}


def test_dedup_segments_drops_cross_doc_boilerplate(spark):
    from owl_etl_spark.operators.dedup import dedup_segments

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"  # exactly one 8-token segment
    rows = [
        (1, boiler + " u1a u1b u1c u1d u1e u1f u1g u1h"),
        (2, boiler + " u2a u2b u2c u2d u2e u2f u2g u2h"),
        (3, boiler + " u3a u3b u3c u3d u3e u3f u3g u3h"),
        (4, boiler),  # pure boilerplate → empty survivor
        (5, "v1 v2 v3 v4 v5 v6 v7 v8"),  # unique doc, untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup_segments(df).collect()}
    # boilerplate appears in 4 docs (> max_df=2) → dropped everywhere
    assert out[1].clean_text == "u1a u1b u1c u1d u1e u1f u1g u1h"
    assert out[1].n_segments == 2 and out[1].n_dropped == 1
    assert out[4].clean_text == "" and out[4].n_dropped == 1
    assert out[5].clean_text == rows[4][1] and out[5].n_dropped == 0


def test_dedup_segments_keeps_rare_segments_in_order(spark):
    from owl_etl_spark.operators.dedup import dedup_segments

    # 3 segments; middle one shared by 3 docs → dropped; order of the
    # remaining two must be preserved
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    rows = [
        (i, f"a{i}1 a{i}2 a{i}3 a{i}4 a{i}5 a{i}6 a{i}7 a{i}8 "
            + shared
            + f" z{i}1 z{i}2 z{i}3 z{i}4 z{i}5 z{i}6 z{i}7 z{i}8")
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup_segments(df).collect()}
    for i in range(3):
        toks = rows[i][1].split(" ")
        want = " ".join(toks[:8] + toks[16:])
        assert out[i].clean_text == want
        assert out[i].n_dropped == 1


def test_temperature_mixture_quotas_and_prefix_order(spark):
    """alpha=0.5 up-weights small sources: quota ratio between a
    10000-row and a 100-row source must be 10 (sqrt), not 100
    (natural). Selection must be the stable hash-order prefix: the
    kept set at a smaller target nests inside a larger target's."""
    from owl_etl_spark.operators.split import temperature_mixture

    rows = [(i, "big") for i in range(10000)] + [(100000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = temperature_mixture(df, "doc_id", "source", target_total=220)
    counts = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # wi: big=10^7, small=10^6 → quotas 200 and 20
    assert counts == {"big": 200, "small": 20}
    kept_half = temperature_mixture(df, "doc_id", "source", target_total=110)
    a = {r.doc_id for r in kept_half.collect()}
    b = {r.doc_id for r in kept.collect()}
    assert a < b  # strict prefix nesting


def test_unigram_logprob_score_hand_check(spark):
    """Integer micro-nat arithmetic pinned by hand: corpus 'a a b' /
    'a c' → total=5, cnt(a)=3, cnt(b)=cnt(c)=1; cost(a)=round(ln(5/3)
    ·1e6)=510826, cost(b|c)=round(ln(5)·1e6)=1609438. The common-token
    doc must score LOWER (more typical) than the rare-token doc."""
    from owl_etl_spark.operators.ranking import unigram_logprob_score

    df = spark.createDataFrame([(1, "a a b"), (2, "a c")], ["doc_id", "text"])
    out = {r.doc_id: r for r in unigram_logprob_score(df).collect()}
    assert out[1].n_tokens == 3 and out[2].n_tokens == 2
    assert out[1].cost_micro_nats == 2 * 510826 + 1609438
    assert out[2].cost_micro_nats == 510826 + 1609438
    assert out[1].avg_cost_micro_nats == 877030
    assert out[2].avg_cost_micro_nats == 1060132
    assert out[1].avg_cost_micro_nats < out[2].avg_cost_micro_nats
