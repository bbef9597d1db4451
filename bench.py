#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect-to-count) on a
fresh action; the session is warmed once so JVM startup isn't billed to
the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from owl_etl_spark.session import release
from tools import _harness

#: In-run quality-gate failures (e.g. the planted-neighbor ANN recall
#: gate). Recorded in the sidecar under "failures" AND propagated to a
#: nonzero exit at the end of main(), after the driver-parsed stdout
#: line is printed — so automation that only checks the exit code
#: still sees the gate (VERDICT r11 advice #4).
_FAILURES: list[str] = []

#: Headline set: relational core + window/session + text dedup + ANN —
#: one per operator family, the ones whose plans matter at 100 TB.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q07_latest_order_per_customer",
    "q11_brand_revenue_share",
    "q16_sessionize",
    "q18_fuzzy_part_match",
    "q21_percent_smart_normalize",
    "q23_exact_dedup",
    "q27_minhash_signatures",
    "q29_ngram_jaccard_pairs",
    "q30_knn_bruteforce",
    "q34_minhash_lsh_pairs",
    "q45_running_revenue",
    "q47_winnow_fingerprints",
    # round-2 operator families (r2 VERDICT "Next round" #3): composed
    # prep pipeline, BM25, CDC apply, single-pass profiler, connected
    # components — a perf regression in any of these was previously
    # invisible to the per-round BENCH record.
    "q85_training_prep_pipeline",
    "q90_bm25_topk",
    "q92_cdc_apply",
    "q95_table_profile",
    "q98_dup_components",
    # round-3: billions-of-keys quantile bucketing (no global sort)
    "q100_quantile_buckets",
    # round-4 operator families: PQ/IVF-PQ vector compression (ADC
    # search), bounded-memory CMS heavy hitters, deterministic weighted
    # sampling, series interpolation, delta-rule join-view maintenance.
    # NOTE on q105/q118 wall time: the encode pass parallelizes by
    # input split; sf0.1's embeddings table is ONE parquet file, so
    # locally the codegen'd encode runs on one core — at scale the same
    # plan fans out per file/row-group with zero shuffles.
    "q105_pq_adc_knn",
    "q113_cms_heavy_hitters",
    "q115_weighted_sample",
    "q117_interpolate_gaps",
    "q118_ivfpq_knn",
    "q122_incremental_join_view",
    # round-5 operator families: literal-bitmap Bloom semi-join pruning
    # (zero-shuffle probe-side filter), the KMV bottom-k sketch
    # (mergeable distinct count via TakeOrderedAndProject), the
    # event-transition matrix (lead-window pairing over 100k events),
    # and bucketed FIFO allocation (the constant-fan-out interval join
    # — 600k lineitems to ~480k allocation pairs).
    "q134_bloom_prune_join",
    "q135_kmv_distinct_estimate",
    "q145_transition_matrix",
    "q150_fifo_allocation",
    # round-6 operator families: market-basket rules (array-expanded
    # pair mining with apriori pruning — 600k lineitems through the
    # basket collapse), rank-formula Gini over 150k orders, and the
    # exact rolling median (25-row sorted-array windows over 200k
    # events).
    "q160_association_rules",
    "q163_revenue_concentration",
    "q169_rolling_median",
    # round-6 second wave: the bounded-explode rolling-WAU distinct
    # (600k events -> user-day dedupe -> x7 fan-out -> one
    # count-distinct) and the grid-bucketed radius self-join (15k
    # points, x9 neighbor explode, candidates bounded by cell
    # occupancy instead of the n^2 cross join).
    "q173_rolling_weekly_actives",
    "q177_grid_radius_pairs",
    # round-6 third wave: the iterative two-vector centrality (3 HITS
    # rounds over ~60k supplier->part edges, joins + scalar-max
    # normalizations) and the dense-cell clustering (per-point work is
    # ONE groupBy; star-contraction components on the dense-CELL
    # table).
    "q183_hits_scores",
    "q184_grid_density_clusters",
    # round-6 waves 11-13: Adamic-Adar link prediction (support-pruned
    # co-purchase graph from 600k lineitems -> degree-bounded wedge
    # join -> heap top-k, hub_cap² task bound) and the binless KS
    # two-sample statistic (150k orders through one value-ordered
    # window pass).
    "q219_copurchase_link_prediction",
    "q230_price_ks_test",
    # round-7 operator families: BPE tokenizer-training merges (one
    # corpus tokenize + vocab-only rounds with the greedy fold
    # rewrite), the exact pairwise 1-D Wasserstein matrix (merged-
    # support CDF integration over ~10 event-type pairs), Bradley-
    # Terry MM strengths (600k lineitems -> within-order pairwise
    # games -> 5 pair-frame iterations), Mondrian k-anonymity (4
    # median-split levels, two rank windows per level), and the
    # all-integer power iteration over the 64x64 embedding Gram
    # matrix (6 in-plan-normalized matvec rounds).
    "q254_bpe_pair_merges",
    "q267_value_wasserstein",
    "q255_shipping_bradley_terry",
    "q276_mondrian_k_anonymity",
    "q253_embedding_top_eigvec",
    # round-8 operator families: incremental cross-drop LSH dedup (sign
    # one drop, persist the band store, probe the second drop against
    # it), boosted stumps (4 tree-reduced candidate-split aggregates
    # over 600k lineitems), HBOS outlier scoring (two passes + a
    # broadcast of f x bins frequencies over 150k orders), AIPW (8
    # exact-integer logistic iterations + the micro-snapped psi pass
    # over 150k orders), and incremental IVF (assign-per-drop, search
    # the unioned store).
    "q296_incremental_lsh_dedup",
    "q297_gbm_price_stumps",
    "q298_order_hbos_outliers",
    "q301_priority_aipw_ate",
    "q303_incremental_ivf_knn",
    # round-8 waves 3-4: Cox PH (3 Newton iterations, each one
    # per-duration collapse of the 600k-row lineitem x orders join),
    # and seeded Brandes betweenness (8 simultaneous BFS sources over
    # the support-pruned co-purchase graph, 3 forward + 3 backward
    # keyed joins).
    "q305_shipping_cox_ph",
    "q310_copurchase_betweenness",
    # round-9 capstone: the end-to-end monthly-drop pipeline (quality
    # gate -> exact cross-drop dedup -> signature-store near-dup probe
    # -> per-source funnel) — the composed shape a real monthly 100 TB
    # ingest runs, so its wall time is the one a user asks about first.
    "q324_monthly_drop_pipeline",
    # round-12 (continued) families: full media codecs (baseline-JPEG
    # entropy decode, WAV PCM, animated-GIF LZW frame sampling — all
    # Arrow-batched encode+decode per doc), the stride-1 substring
    # duplication coverage (2.4M gram rows at sf0.1 through one hash
    # groupBy + per-doc lead window), and the five-way mixed-media
    # dispatch.
    "q359_jpeg_entropy_decode",
    "q360_wav_audio_decode",
    "q361_gif_frame_sample",
    "q362_gram_coverage",
    "q363_mixed_media_full_dispatch",
    "q364_remove_duplicated_spans",
]


def main() -> None:
    sf_dir = _harness.sf_dir()
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = _harness.start_session("owl-etl-spark-bench")
    _harness.warm_up(spark, sf_dir)

    # SPARK_GRAFT_HEADLINE_RUNS > 1 (round 12, used by round_close):
    # run the whole headline list N times and record the per-query MIN
    # — the same estimator the committed paired-A/B protocol judges on.
    # A plain invocation keeps the default single pass.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_HEADLINE_RUNS", "1")))
    res = _harness.min_of_n(spark, sf_dir, _harness.lookup(entrymod.queries(), HEADLINE), runs)
    timings = {name: r["min_s"] for name, r in res.items()}
    total = sum(timings.values())

    # Local-iteration escape hatch for the optimization loop: headline
    # only, skip the scenario blocks. The driver never sets this — the
    # default (full run) is unchanged.
    if os.environ.get("SPARK_GRAFT_HEADLINE_ONLY", ""):
        line = json.dumps(
            {
                "metric": "headline_query_wall_time_total",
                "value": round(total, 2),
                "unit": "sec",
                "queries": {k.split("_")[0]: round(v, 2) for k, v in timings.items()},
                "sf": sf,
            }
        )
        print(line)
        spark.stop()
        _check_regression(timings, total, sf)
        return

    skew = _skew_scenario(spark, sf_dir)
    ann = _ann_scenario(spark, sf_dir)
    ann_clustered = _ann_clustered_scenario(spark)
    ann_planted = _ann_planted_scenario(spark)
    streaming = _streaming_scenario(spark, sf_dir)
    scale = _scale_stress_scenario(spark, sf_dir, timings)
    scale100 = _scale100_scenario(spark, sf_dir)
    store_drops = _store_drops_scaling_scenario(spark)

    # Scenario blocks (skew / ann / clustered-ann / streaming) made the
    # single output line outgrow the round driver's tail-capture window in
    # round 5 (BENCH_r05.json recorded "parsed": null). They now go to a
    # sidecar file (committed per round) plus stderr; the FINAL stdout
    # line stays a compact {metric, value, unit, queries, sf} object well
    # under 2 KB so the driver can always parse it.
    scenarios = {
        "skew_scenario": skew,
        "ann_scenario": ann,
        "ann_clustered_scenario": ann_clustered,
        "ann_planted_scenario": ann_planted,
        "streaming_scenario": streaming,
        "scale_stress": scale,
        "scale_stress_x100": scale100,
        "store_probe_120drop": store_drops,
        "failures": list(_FAILURES),
        # full-name headline timings: the stdout line below keys by the
        # bare qNNN prefix to fit the driver's tail-capture window, so
        # the committed sidecar keeps the readable mapping
        "headline_timings_s": {k: round(v, 3) for k, v in timings.items()},
        "headline_total_s": round(total, 3),
        "sf": sf,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    # paired-A/B reference (VERDICT r9 Next-round #2): the committed
    # record of the most recent interleaved HEAD-vs-prior-round run
    # (tools/ab_bench.py) rides along in the sidecar so the canonical
    # bench artifact carries the noise-immune min-vs-min ratio next to
    # whatever the (noisy) driver sample measured this round
    try:
        with open(os.path.join(here, "bench_evidence", "ab_latest.json")) as f:
            scenarios["ab_reference"] = json.load(f)
    except (OSError, ValueError):
        pass
    # 10x-tier paired-A/B reference (VERDICT r11 Next-round #3): the
    # committed record of the most recent interleaved HEAD-vs-prior
    # SCALE-TIER run (tools/scale_ab.py) — the protocol that makes a
    # single-run tier move like r11's q310 1.38x adjudicable
    try:
        with open(os.path.join(here, "bench_evidence", "scale_ab_latest.json")) as f:
            scenarios["scale_ab"] = json.load(f)
    except (OSError, ValueError):
        pass
    try:
        with open(os.path.join(here, "bench_scenarios.json"), "w") as f:
            json.dump(scenarios, f, indent=1, sort_keys=True)
    except OSError:
        pass
    print("# scenarios: " + json.dumps(scenarios), file=sys.stderr)

    # Compact scale-stress summary INSIDE the driver-captured line
    # (full detail — every family's seconds, rows, 10x/1x ratios,
    # task-pair bounds, state sizes — lives in the committed
    # bench_scenarios.json sidecar): factor, seconds at 10x for every
    # measured family (1 decimal), sessionizer throughput at 10x keys,
    # and the dedup per-task pair bounds. The 52-query headline dict
    # drops to 1 decimal for the same reason — the whole line must sit
    # inside the driver's 2000-byte tail-capture window (the r5
    # lesson), asserted below at 1900.
    scale_line = {"x": scale.get("factor")}
    for k, v in scale.items():
        if k.endswith("_s") and not k.endswith("per_s") and not k.startswith("gen"):
            scale_line[k.split("_")[0]] = v
    scale_line["sess_evps"] = scale.get("sessionize_events_per_s")
    for q in ("q29", "q34", "q98"):
        scale_line[f"{q}_maxpairs"] = scale.get(f"{q}_max_task_pairs")
    # compact x100 block: per-family 100x/1x ratios (full detail —
    # walls, rows, caps, q29's s-per-Mrow contract — in the sidecar)
    scale_line["x100"] = {
        k.split("_")[0]: v
        for k, v in scale100.items()
        if k.endswith("_ratio_vs_1x")
    } or scale100.get("skipped")
    # Queries key by the bare qNNN prefix (unambiguous — registry
    # numbers are unique) so the 52-entry dict plus the scale block
    # fits the driver's 2000-byte tail window; the sidecar above keeps
    # the full names and _check_regression compares by prefix.
    line = json.dumps(
        {
            "metric": "headline_query_wall_time_total",
            "value": round(total, 2),
            "unit": "sec",
            "queries": {k.split("_")[0]: round(v, 2) for k, v in timings.items()},
            "scale_stress": scale_line,
            "sf": sf,
        }
    )
    assert len(line) < 1900, f"bench output line too long ({len(line)} bytes)"
    print(line)
    spark.stop()
    if _FAILURES:
        print("BENCH QUALITY GATES FAILED: " + "; ".join(_FAILURES), file=sys.stderr)
    _check_regression(timings, total, sf)
    if _FAILURES:
        sys.exit(1)


def _skew_scenario(sparksession, sf_dir: str) -> dict[str, float]:
    """Prove the q29/q34 skew guards under actual skew, in the bench
    record (r3 VERDICT "Next round" #5). The stock bench corpora are
    uniform, so the guards' value previously rested on unit tests.

    Corpus (synthetic, independent of sf — near-unique random shingles
    so natural df stays ~1 and the measurement isolates the hot keys):

    - q29 shape: 10% of 80k docs append ONE 3-token boilerplate -> one
      hot shingle with df=8,000 (32M pairs). One hot key is
      deliberate: many hot shingles would hand the unguarded join
      accidental parallelism (one task per hot key); the guard exists
      for the few-giant-keys shape where ONE task otherwise owns the
      whole df^2/2 expansion.
    - q34 shape: ~3% of docs share bit-identical text (a massive
      exact-duplicate class) -> all its MinHash band signatures
      collide, putting 2,500 members into each of the 4 band buckets.

    "unguarded" = max_group 2^30, the pre-r2 behavior. Two numbers per
    operator land in the bench JSON under "skew_scenario" (kept out of
    "queries": the unguarded timings are intentionally bad and must
    not pollute the engine-speed totals):

    - wall seconds guarded vs unguarded (r4 baseline: q29 17.0s vs
      27.8s — the factor this scenario exists to keep visible; it was
      this scenario that exposed AQE folding the guard's tiny
      chunk-pair exchange back into ONE partition, see
      _chunked_pair_expansion). local[32] still COMPRESSES the ratio:
      a lone 32M-pair task here is slow-but-survivable; on a
      1000-executor cluster with Zipfian df ~ 10^6, the unguarded
      form is not slow, it is DEAD — 5*10^11 pairs in one task. q34's
      wall stays ~tail-bound either way because an exact-dup class's
      candidate OUTPUT is itself class²/2 — its guard value is the
      task bound below.
    - max_task_pairs, the per-task expansion bound that decides that
      life-or-death at scale: unguarded = max_df^2/2 (quadratic in
      the hot class), guarded = max_group^2 (a constant picked to fit
      executor memory). Recorded from the same corpus."""
    from pyspark.sql import functions as F

    from owl_etl_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    n_docs = 80_000
    body = (
        "array_join(transform(sequence(1, 40), "
        "i -> concat('w', pmod(xxhash64(id * 1000 + i), 50000))), ' ')"
    )
    base = sparksession.range(n_docs).select(
        F.col("id").alias("doc_id"), F.expr(body).alias("body")
    )
    hot29 = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat_ws(" ", F.col("body"), F.lit("zzqa zzqb zzqc")),
        )
        .otherwise(F.col("body"))
        .alias("text"),
    ).localCheckpoint()  # materialize: generation cost is not billed
    hot34 = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 32 == 0,
            F.lit("zzdup alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        )
        .otherwise(F.col("body"))
        .alias("text"),
    ).localCheckpoint()

    out: dict[str, float] = {}
    for label, fn, df, hot_class, guard in (
        ("q29_skew", ngram_jaccard_pairs, hot29, n_docs // 10, 1024),
        ("q34_skew", minhash_lsh_pairs, hot34, n_docs // 32, 512),
    ):
        for mode, mg in (("guarded", guard), ("unguarded", 1 << 30)):
            t0 = time.perf_counter()
            n = fn(df, "doc_id", "text", max_group=mg).count()
            dt = time.perf_counter() - t0
            out[f"{label}_{mode}"] = round(dt, 3)
            print(f"# {label}_{mode}: {dt:.3f}s ({n} rows)", file=sys.stderr)
        out[f"{label}_max_task_pairs_unguarded"] = hot_class * hot_class // 2
        out[f"{label}_max_task_pairs_guarded"] = guard * guard
    release(hot29)
    release(hot34)

    # q142 shape (r5 VERDICT finding #2): ONE bot user owning n_t
    # touches and n_c conversions. The naive key join materializes
    # n_t*n_c candidate pairs inside a single task before the time
    # filter runs; the shipped operator joins on (user, lookback-width
    # time bucket), so per-task candidates are bucket-occupancy
    # products. Both paths produce identical attributions (unit-tested
    # against a Python reference); only the timings and the per-task
    # pair bounds are recorded here.
    from pyspark.sql import Window

    from owl_etl_spark.operators.attribution import linear_attribution

    n_t, n_c, lb = 50_000, 2_000, 3600
    span = 2_000_000  # ~23 days of activity at one-second grain
    t_hot = sparksession.range(n_t).select(
        F.lit("bot").alias("k"),
        F.col("id").alias("tid"),
        (F.col("id") * 37 % span).alias("tts"),
    ).localCheckpoint()
    c_hot = sparksession.range(n_c).select(
        F.lit("bot").alias("k"),
        (F.col("id") + 10_000_000).alias("cid"),
        (F.col("id") * 193 % span).alias("cts"),
        F.lit(1000).alias("v"),
    ).localCheckpoint()

    t0 = time.perf_counter()
    n = linear_attribution(
        t_hot, c_hot, "k", "tid", "tts", "cid", "cts", "v", lookback_seconds=lb
    ).count()
    dt = time.perf_counter() - t0
    out["q142_skew_guarded"] = round(dt, 3)
    print(f"# q142_skew_guarded: {dt:.3f}s ({n} rows)", file=sys.stderr)

    # the pre-fix shape, inlined: bare-key join, filter afterwards
    t0 = time.perf_counter()
    matched = t_hot.join(c_hot, "k").filter(
        (F.col("tts") < F.col("cts")) & (F.col("tts") >= F.col("cts") - lb)
    )
    w = Window.partitionBy("cid").orderBy(F.col("tts").asc(), F.col("tid").asc())
    ranked = matched.withColumn("r", F.row_number().over(w)).withColumn(
        "nn", F.count(F.lit(1)).over(Window.partitionBy("cid"))
    )
    credit = F.expr("v div nn") + F.when(F.col("r") <= F.col("v") % F.col("nn"), 1).otherwise(0)
    n_u = (
        ranked.withColumn("credit", credit)
        .groupBy("k", "tid")
        .agg(F.count(F.lit(1)).alias("n_conversions"), F.sum("credit").alias("attributed_value"))
        .count()
    )
    dt = time.perf_counter() - t0
    out["q142_skew_unguarded"] = round(dt, 3)
    print(f"# q142_skew_unguarded: {dt:.3f}s ({n_u} rows)", file=sys.stderr)

    out["q142_skew_max_task_pairs_unguarded"] = n_t * n_c
    # guarded bound: the largest (touch-bucket occupancy) x (probes
    # into that bucket) product actually present in this corpus
    tb = t_hot.groupBy((F.col("tts") - F.pmod("tts", F.lit(lb))).alias("bk")).count()
    cb = (
        c_hot.select(
            F.explode(
                F.array(
                    F.col("cts") - F.pmod("cts", F.lit(lb)) - lb,
                    F.col("cts") - F.pmod("cts", F.lit(lb)),
                )
            ).alias("bk")
        )
        .groupBy("bk")
        .count()
    )
    mx = (
        tb.withColumnRenamed("count", "nt")
        .join(cb.withColumnRenamed("count", "nc"), "bk")
        .agg(F.max(F.col("nt") * F.col("nc")).alias("m"))
        .collect()[0]["m"]
    )
    out["q142_skew_max_task_pairs_guarded"] = int(mx)
    release(t_hot)
    release(c_hot)
    return out


def _ann_scenario(sparksession, sf_dir: str) -> dict[str, float]:
    """Quantify the ANN compression ladder on the benchmark corpus:
    exact brute-force L2 top-5 for 50 queries as truth, then ADC over
    PQ codes, ADC + exact re-rank (shortlist 100), and IVF-PQ (2 of 8
    lists probed) — wall seconds and recall@5 for each, recorded per
    round so a regression in either speed or quality is visible.

    Caveat the numbers honestly: the synthetic embeddings table is
    ISOTROPIC random data — the regime where distance concentration
    defeats any code-based shortlist (see pq_rerank_topk docstring), so
    raw ADC recall here is a FLOOR, not the structured-manifold figure
    (the planted-cluster tests in test_cluster.py pin >= 0.9 there).
    What this scenario tracks: the re-rank stage's recovery over raw
    ADC, probe pruning's cost, and the relative wall times."""
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from owl_etl_spark.operators.cluster import (
        centroids_from_ids,
        ivfpq_encode,
        ivfpq_topk,
        pq_adc_topk,
        pq_codebooks_from_ids,
        pq_encode,
        pq_rerank_topk,
    )
    from owl_etl_spark.sources.readers import read_table

    em = read_table(sparksession, sf_dir, "embeddings")
    qs = em.filter(F.col("vec_id") < 50)
    out: dict[str, float] = {}

    # exact L2 truth (and the brute-force timing entry)
    dist = (
        "aggregate(zip_with(transform(__qv, v -> CAST(v AS DOUBLE)), "
        "transform(__cv, v -> CAST(v AS DOUBLE)), "
        "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
    )
    t0 = _time.perf_counter()
    qv = qs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    cv = em.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"))
    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id").asc())
    truth_df = (
        cv.join(F.broadcast(qv))
        .select("query_id", "neighbor_id", F.round(F.expr(dist), 6).alias("d"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    truth = {(r.query_id, r.neighbor_id) for r in truth_df.collect()}
    out["brute_s"] = round(_time.perf_counter() - t0, 3)

    cents = centroids_from_ids(em, [20, 80, 140, 200, 260, 320, 380, 440])
    cbs = pq_codebooks_from_ids(em, [10, 70, 130, 190, 250, 310, 370, 430], m=4)
    encoded_pq = pq_encode(em, cbs, round_digits=6).localCheckpoint()
    encoded_ivfpq = ivfpq_encode(em, cents, cbs).localCheckpoint()

    for label, fn in (
        ("pq_adc", lambda: pq_adc_topk(qs, encoded_pq, cbs, k=5)),
        ("pq_rerank", lambda: pq_rerank_topk(qs, em, encoded_pq, cbs, shortlist=100)),
        ("ivfpq", lambda: ivfpq_topk(qs, encoded_ivfpq, cents, cbs, k=5, n_probes=2)),
    ):
        t0 = _time.perf_counter()
        got = {(r.query_id, r.neighbor_id) for r in fn().collect()}
        out[f"{label}_s"] = round(_time.perf_counter() - t0, 3)
        out[f"{label}_recall_at_5"] = round(len(got & truth) / len(truth), 3)
        print(
            f"# ann_{label}: {out[f'{label}_s']}s recall@5={out[f'{label}_recall_at_5']}",
            file=sys.stderr,
        )
    release(encoded_pq)
    release(encoded_ivfpq)
    return out


def _ann_clustered_scenario(sparksession) -> dict[str, float]:
    """The ANN ladder on a PLANTED-CLUSTER corpus — the regime vector
    compression exists for (r4 VERDICT "Next round" #3): the isotropic
    ladder above is the worst-case floor (distance concentration
    defeats any code-based shortlist there — recall ~0.2 is EXPECTED),
    so it cannot catch a real recall regression. This corpus has
    well-separated centers with tight noise, and the quality signal is
    ``*_same_cluster_at_5`` — the fraction of returned neighbors from
    the query's own cluster, the operator contract the unit tests pin
    at >= 0.9. (Exact top-5 recall is ALSO recorded but is ~floor here
    BY DESIGN: all 1,000 members of a cluster share one PQ code, so
    ADC ties across them and the tie-break — not distance — picks the
    5; no code-based method can resolve within-cluster order. A
    same-cluster drop IS a bug; an exact-recall drop is not.)

    Also times the PRODUCTION fitted path (kmeans_fit +
    pq_codebooks_fit — the oracle-pinned *_from_ids constructors exist
    only for gate portability), so the fit cost has a per-round record
    too (r4 VERDICT optional 7c). Fit work per iteration is one scan +
    one k-group aggregate; driver state is k*dim doubles.

    Corpus: 20,000 x 64f32 (20 clusters x 1,000 members, uniform(-10,10)
    centers, N(0, 0.05) noise — the cluster count the fitted-codebook
    recall contract is validated for in test_cluster.py: with m=4
    blocks of ks=16 codes, 20 sub-centers per block fit the code
    budget; 50+ clusters would alias codes by construction and measure
    the corpus, not the operator), seeded numpy -> Arrow
    createDataFrame, localCheckpoint'd so generation isn't billed.
    20 probe queries, one per cluster."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from owl_etl_spark.operators.cluster import (
        ivfpq_encode,
        ivfpq_topk,
        kmeans_fit,
        pq_adc_topk,
        pq_codebooks_fit,
        pq_encode,
        pq_rerank_topk,
    )

    n_clusters, per_cluster, dim = 20, 1000, 64
    rng = np.random.default_rng(7)
    centers = rng.uniform(-10, 10, size=(n_clusters, dim))
    noise = rng.normal(0, 0.05, size=(n_clusters * per_cluster, dim))
    vecs = (np.repeat(centers, per_cluster, axis=0) + noise).astype("float32")
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(vecs), dtype="int64"), "embedding": list(map(list, vecs))}
    )
    em = sparksession.createDataFrame(pdf).localCheckpoint()
    qs = em.filter(F.col("vec_id") % per_cluster == 3)  # one probe per cluster

    out: dict[str, float] = {}

    # exact L2 truth (and the brute-force timing entry)
    dist = (
        "aggregate(zip_with(transform(__qv, v -> CAST(v AS DOUBLE)), "
        "transform(__cv, v -> CAST(v AS DOUBLE)), "
        "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
    )
    t0 = time.perf_counter()
    qv = qs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    cv = em.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"))
    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id").asc())
    truth_df = (
        cv.join(F.broadcast(qv))
        .select("query_id", "neighbor_id", F.round(F.expr(dist), 6).alias("d"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    truth = {(r.query_id, r.neighbor_id) for r in truth_df.collect()}
    out["brute_s"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    cents = kmeans_fit(em, k=8, dim=dim)
    out["kmeans_fit_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    cbs = pq_codebooks_fit(em, ks=16, dim=dim)
    out["pq_fit_s"] = round(time.perf_counter() - t0, 3)
    print(
        f"# ann_clustered fits: kmeans {out['kmeans_fit_s']}s, pq {out['pq_fit_s']}s",
        file=sys.stderr,
    )

    encoded_pq = pq_encode(em, cbs, round_digits=6).localCheckpoint()
    encoded_ivfpq = ivfpq_encode(em, cents, cbs).localCheckpoint()

    for label, fn in (
        ("pq_adc", lambda: pq_adc_topk(qs, encoded_pq, cbs, k=5)),
        ("pq_rerank", lambda: pq_rerank_topk(qs, em, encoded_pq, cbs, shortlist=100)),
        ("ivfpq", lambda: ivfpq_topk(qs, encoded_ivfpq, cents, cbs, k=5, n_probes=2)),
    ):
        t0 = time.perf_counter()
        got = {(r.query_id, r.neighbor_id) for r in fn().collect()}
        out[f"{label}_s"] = round(time.perf_counter() - t0, 3)
        out[f"{label}_recall_at_5"] = round(len(got & truth) / len(truth), 3)
        same = sum(1 for qid, nid in got if qid // per_cluster == nid // per_cluster)
        out[f"{label}_same_cluster_at_5"] = round(same / max(1, len(got)), 3)
        print(
            f"# ann_clustered_{label}: {out[f'{label}_s']}s "
            f"recall@5={out[f'{label}_recall_at_5']} "
            f"same_cluster@5={out[f'{label}_same_cluster_at_5']}",
            file=sys.stderr,
        )
    release(em)
    release(encoded_pq)
    release(encoded_ivfpq)
    return out


def _ann_planted_scenario(sparksession) -> dict[str, float]:
    """Planted-NEIGHBOR recall gate (VERDICT r10 Next-round #5): the
    isotropic ladder's exact recall is a ~0.2 floor BY DESIGN and the
    clustered corpus resolves only cluster MEMBERSHIP (all members
    share a PQ code, so within-cluster order is tie-break, not
    distance) — neither catches a ranking regression in the ADC table
    build or the rerank's exact-distance pass. This corpus makes exact
    recall@5 ≥ 0.9 ACHIEVABLE and therefore gate-able: 2,000
    well-separated base vectors, and for each of 20 probes a PLANTED
    clique of 5 tight perturbations (N(0, 0.01)) of one base vector,
    with the query itself a sixth perturbation. The true top-5 are
    inside the query's 6-member clique; ADC puts the whole clique at
    the top of the shortlist (same cell), and the RERANK's exact
    arithmetic must then order it — so pq_rerank recall@5 ≈ 1.0 when
    the code is right and degrades immediately when either stage's
    distance math regresses. ``pq_rerank_gate_ok`` (recall ≥ 0.9) is
    the recorded gate; tests/test_cluster.py pins the same contract
    at unit scale."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from owl_etl_spark.operators.cluster import (
        pq_adc_topk,
        pq_codebooks_fit,
        pq_encode,
        pq_rerank_topk,
    )

    n_base, n_queries, clique, dim = 2000, 20, 5, 64
    rng = np.random.default_rng(11)
    base = rng.uniform(-10, 10, size=(n_base, dim))
    planted, queries = [], []
    for q in range(n_queries):
        anchor = base[q * (n_base // n_queries)]
        planted.append(anchor + rng.normal(0, 0.01, size=(clique, dim)))
        queries.append(anchor + rng.normal(0, 0.01, size=dim))
    vecs = np.vstack([base] + planted).astype("float32")
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(vecs), dtype="int64"), "embedding": vecs.tolist()}
    )
    em = sparksession.createDataFrame(pdf).localCheckpoint()
    qpdf = pd.DataFrame(
        {
            # query ids live far above corpus ids — a query is NOT a member
            "vec_id": np.arange(1_000_000, 1_000_000 + n_queries, dtype="int64"),
            "embedding": np.asarray(queries, dtype="float32").tolist(),
        }
    )
    qs = sparksession.createDataFrame(qpdf).localCheckpoint()

    out: dict[str, float] = {}

    dist = (
        "aggregate(zip_with(transform(__qv, v -> CAST(v AS DOUBLE)), "
        "transform(__cv, v -> CAST(v AS DOUBLE)), "
        "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
    )
    t0 = time.perf_counter()
    qv = qs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    cv = em.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"))
    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("neighbor_id").asc())
    truth_df = (
        cv.join(F.broadcast(qv))
        .select("query_id", "neighbor_id", F.round(F.expr(dist), 6).alias("d"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    truth = {(r.query_id, r.neighbor_id) for r in truth_df.collect()}
    out["brute_s"] = round(time.perf_counter() - t0, 3)

    cbs = pq_codebooks_fit(em, ks=16, dim=dim)
    encoded_pq = pq_encode(em, cbs, round_digits=6).localCheckpoint()
    for label, fn in (
        ("pq_adc", lambda: pq_adc_topk(qs, encoded_pq, cbs, k=5)),
        ("pq_rerank", lambda: pq_rerank_topk(qs, em, encoded_pq, cbs, shortlist=100)),
    ):
        t0 = time.perf_counter()
        got = {(r.query_id, r.neighbor_id) for r in fn().collect()}
        out[f"{label}_s"] = round(time.perf_counter() - t0, 3)
        out[f"{label}_recall_at_5"] = round(len(got & truth) / len(truth), 3)
        print(
            f"# ann_planted_{label}: {out[f'{label}_s']}s "
            f"recall@5={out[f'{label}_recall_at_5']}",
            file=sys.stderr,
        )
    out["pq_rerank_gate_ok"] = 1.0 if out["pq_rerank_recall_at_5"] >= 0.9 else 0.0
    if not out["pq_rerank_gate_ok"]:
        # recorded AND propagated: main() exits nonzero on any entry in
        # _FAILURES, so automation consuming the exit code (or the
        # sidecar's top-level "failures" list) cannot miss the gate
        # (VERDICT r11 advice: a stderr-only gate does not gate)
        _FAILURES.append(
            f"ann_planted_gate: pq_rerank recall@5 "
            f"{out['pq_rerank_recall_at_5']} < 0.9"
        )
        print(
            "# ann_planted GATE FAILED: pq_rerank recall@5 "
            f"{out['pq_rerank_recall_at_5']} < 0.9 — ranking regression",
            file=sys.stderr,
        )
    release(em)
    release(qs)
    release(encoded_pq)
    return out


def _streaming_scenario(sparksession, sf_dir: str) -> dict[str, float]:
    """Per-round throughput + state-size record for the streaming
    family (r4 VERDICT "Next round" #2): the nine gated streaming
    queries were correctness-only — their sweep timings conflate
    stream startup with ORACLE time, so there was no recorded answer
    to a user's first questions (events/sec? state bytes?).

    Each operator runs as a real readStream(parquet events drop) ->
    trigger(availableNow) -> memory-sink query — ENGINE time only, no
    oracle, no output re-normalization. Recorded per operator:

    - wall seconds (plan + all micro-batches + sink commit),
    - events/sec = input rows / wall (the sf0.1 drop is 100k events),
    - peak state rows / bytes from the progress metrics' state
      operators — the number that decides cluster sizing, since state
      (not throughput) is what grows with key cardinality.

    Operators: tumbling-window counts (built-in agg state),
    CDC apply and latest-per-key (one scalar of applyInPandasWithState
    state per key; latest-per-key is the r5-vectorized scan), and the
    custom stateful sessionizer (three scalars + event-time timer per
    key). ~1,500 distinct user_ids at sf0.1.

    State partitions are sized to the key cardinality (~100 keys per
    partition -> 16) for the stateful runs: each state partition pays
    fixed per-micro-batch costs (a Python-worker Arrow round trip and
    a state-store checkpoint commit) regardless of how few keys it
    holds, so 32 partitions x ~47 keys wastes ~40% of the wall on
    per-partition overhead (measured r8: 36.1k -> 43.8k events/s
    median moving 32 -> 16). The partition count is fixed at the
    first checkpoint of a real deployment, so this is a start-time
    sizing decision, not a runtime tune — at 100 TB key cardinality
    the same rule picks thousands of partitions and the overhead
    amortizes the other way."""
    from pyspark.sql import functions as F

    from owl_etl_spark.streaming.dedup_stream import (
        streaming_cdc_apply,
        streaming_latest_per_key,
    )
    from owl_etl_spark.streaming.joins import sessionize_stateful
    from owl_etl_spark.streaming.windows import hourly_event_counts

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )

    def _src():
        return (
            sparksession.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    n_events = sparksession.read.schema(schema).option(
        "pathGlobFilter", "events.parquet"
    ).parquet(sf_dir).count()

    out: dict[str, float] = {"input_events": n_events}

    prev_parts = sparksession.conf.get("spark.sql.shuffle.partitions")
    sparksession.conf.set("spark.sql.shuffle.partitions", "16")

    def _run(label: str, stream_df, output_mode: str) -> None:
        t0 = time.perf_counter()
        q = (
            stream_df.writeStream.format("memory")
            .queryName(f"bench_{label}")
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        state_rows = 0
        state_bytes = 0
        for prog in q.recentProgress:
            for op in prog.get("stateOperators") or []:
                state_rows = max(state_rows, op.get("numRowsTotal") or 0)
                state_bytes = max(state_bytes, op.get("memoryUsedBytes") or 0)
        out[f"{label}_s"] = round(dt, 3)
        out[f"{label}_events_per_s"] = round(n_events / dt)
        out[f"{label}_state_rows"] = state_rows
        out[f"{label}_state_bytes"] = state_bytes
        sparksession.catalog.dropTempView(f"bench_{label}")
        print(
            f"# streaming_{label}: {dt:.3f}s "
            f"({out[f'{label}_events_per_s']} ev/s, "
            f"state {state_rows} rows / {state_bytes} B)",
            file=sys.stderr,
        )

    _run(
        "hourly_counts",
        hourly_event_counts(
            _src().withColumn("value", F.round(F.col("value") * 100).cast("long"))
        ),
        "complete",
    )
    cdc_in = _src().withColumn("us", F.unix_micros("ts")).withColumn(
        "seq", F.format_string("%020d%012d", F.col("us"), F.col("event_id"))
    )
    _run(
        "cdc_apply",
        streaming_cdc_apply(
            cdc_in,
            keys=["user_id"],
            sequence_col="seq",
            op_col="event_type",
            watermark_col="ts",
            delete_ops=("error",),
            state_timeout_ms=None,  # bounded availableNow run
        ),
        "append",
    )
    _run(
        "latest_per_key",
        streaming_latest_per_key(
            _src().withColumn("us", F.unix_micros("ts")),
            keys=["user_id"],
            recency_col="us",
            watermark_col="ts",
            state_timeout_ms=None,
        ),
        "append",
    )
    _run(
        "sessionize",
        sessionize_stateful(
            _src().select("user_id", "ts"), "user_id", "ts", gap_seconds=1800
        ),
        "append",
    )

    # hot-key micro-bench: ONE key receiving 100k events in a single
    # micro-batch — the shape that used to pay a per-row Python loop in
    # streaming_latest_per_key's state function and is now a vectorized
    # sorted prefix-max scan (r4 VERDICT "Next round" #4). The recorded
    # events/sec is the per-hot-key ceiling, since a single group is
    # necessarily one task.
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="bench_hotkey_")
    try:
        n_hot = 100_000
        (
            sparksession.range(n_hot)
            .select(
                F.lit("hot").alias("k"),
                # LCG-shuffled, duplicate-bearing sequence values
                F.pmod(F.col("id") * 48271, F.lit(65_537)).alias("seq"),
                F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(work)
        )
        hot_stream = sparksession.readStream.schema(
            "k string, seq bigint, ts timestamp"
        ).parquet(work)
        t0 = time.perf_counter()
        q = (
            streaming_latest_per_key(
                hot_stream, keys=["k"], recency_col="seq",
                watermark_col="ts", state_timeout_ms=None,
            )
            .writeStream.format("memory")
            .queryName("bench_latest_hot")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        out["latest_hot_key_s"] = round(dt, 3)
        out["latest_hot_key_events_per_s"] = round(n_hot / dt)
        sparksession.catalog.dropTempView("bench_latest_hot")
        print(
            f"# streaming_latest_hot_key: {dt:.3f}s "
            f"({out['latest_hot_key_events_per_s']} ev/s, 1 key x {n_hot})",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        sparksession.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


#: Heavy families measured at the blown-up tier (VERDICT r7 "Next
#: round" #4): LSH/dedup, graph, ANN, association rules — the ones
#: whose guards and plan shapes carry the 100 TB design claims.
_SCALE_QUERIES = [
    "q29_ngram_jaccard_pairs",
    "q34_minhash_lsh_pairs",
    "q98_dup_components",
    "q105_pq_adc_knn",
    "q118_ivfpq_knn",
    "q125_trade_pagerank",
    "q160_association_rules",
    "q183_hits_scores",
    "q204_trade_cheapest_routes",
    # round-8 families whose guards matter at the blown-up tier: the
    # incremental signature-store dedup (10x documents through sign +
    # store-probe) and seeded betweenness (10x baskets -> denser
    # co-purchase graph -> heavier sigma/delta joins).
    "q296_incremental_lsh_dedup",
    "q310_copurchase_betweenness",
    # round-9 capstone at the blown-up tier: the full monthly-drop
    # composition (quality gate + fp anti-join + signature-store probe
    # + funnel) where the x10 replica construction explodes near-dup
    # mass — the chunk guards must hold through the whole pipeline.
    "q324_monthly_drop_pipeline",
    # round-10: perceptual near-dup at 10x payloads — the banded
    # Hamming join's bucket guard under 10x fingerprint collisions
    # (no 1x headline baseline, so wall+rows only, no ratio).
    "q330_phash_near_dup_pairs",
    # round-10 waves 5-8: the three new families with nontrivial
    # fan-out at scale — the FDR screen's x64 permutation explode,
    # the per-doc n-gram repetition explode (2 gram orders x token
    # budget), and the ordered-trend (distinct values x groups) grid.
    # Wall+rows only (no 1x headline baseline, no ratio).
    "q337_cohort_fdr_screen",
    "q345_doc_repetition_profile",
    "q347_priority_ordered_trend",
    # round-11: the 12-drop catalog-endurance law at 10x documents —
    # a year of monthly loads with mid-stream compaction against a
    # 10x-sized corpus (wall+rows only, no 1x headline baseline). The
    # store_probe_* pruning counters run separately against a
    # dedicated 64-file store: q358's compacted drops are one file
    # each at bench scale, which makes file skipping vacuous there.
    "q358_store_catalog_endurance",
    # round-12 (continued): the substring-dedup pair at 10x documents —
    # the ' ~rK' replica construction makes nearly EVERY gram position
    # cross-replica duplicated, so the dup-position row count (and the
    # per-doc window input) approaches the full gram expansion: the
    # worst case for coverage counting and span stitching by design.
    # Plus the JPEG entropy decoder as a pure decode-throughput probe
    # (50k encode+decode round-trips through the Arrow boundary).
    "q362_gram_coverage",
    "q364_remove_duplicated_spans",
    "q359_jpeg_entropy_decode",
]


def _build_scale_tier(sparksession, sf_dir: str, factor: int, work: str) -> None:
    """Materialize the FACTOR-times deterministic blow-up of ``sf_dir``
    into ``work`` (replica cross-join, key-space offsets, no RNG —
    the construction documented on ``_scale_stress_scenario``). Shared
    by the default 10x tier and the 100x block."""
    import shutil

    from pyspark.sql import functions as F

    from owl_etl_spark.sources.readers import read_events

    for t in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{work}/{t}.parquet")
    rep = sparksession.range(factor).withColumnRenamed("id", "__rep")

    docs = sparksession.read.parquet(f"{sf_dir}/documents.parquet")
    (
        docs.crossJoin(rep)
        .select(
            (F.col("doc_id") + F.col("__rep") * F.lit(10_000_000)).alias("doc_id"),
            F.when(F.col("__rep") == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" ~r"), F.col("__rep")))
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(8)
        .write.mode("overwrite")
        .parquet(f"{work}/documents.parquet")
    )
    emb = sparksession.read.parquet(f"{sf_dir}/embeddings.parquet")
    (
        emb.crossJoin(rep)
        .select(
            (F.col("vec_id") + F.col("__rep") * F.lit(10_000_000)).alias("vec_id"),
            F.expr(
                "transform(embedding, x -> CAST(x * (1.0 + __rep / 997.0) AS FLOAT))"
            ).alias("embedding"),
            "label",
        )
        .repartition(8)
        .write.mode("overwrite")
        .parquet(f"{work}/embeddings.parquet")
    )
    ev = read_events(sparksession, sf_dir)
    (
        ev.crossJoin(rep)
        .select(
            (F.col("event_id") + F.col("__rep") * F.lit(100_000_000)).alias(
                "event_id"
            ),
            "ts",
            (F.col("user_id") + F.col("__rep") * F.lit(1_000_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .repartition(16)
        .write.mode("overwrite")
        .parquet(f"{work}/events.parquet")
    )
    for tbl, keycol, off, parts in (
        ("lineitem", "l_orderkey", 100_000_000, 32),
        ("orders", "o_orderkey", 100_000_000, 8),
    ):
        df = sparksession.read.parquet(f"{sf_dir}/{tbl}.parquet")
        (
            df.crossJoin(rep)
            .select(
                (F.col(keycol) + F.col("__rep") * F.lit(off)).alias(keycol),
                *[c for c in df.columns if c != keycol],
            )
            .repartition(parts)
            .write.mode("overwrite")
            .parquet(f"{work}/{tbl}.parquet")
        )


#: the five quadratic-risk families the 100x block re-measures
#: (VERDICT r9 Next-round #4) — LSH, exact Jaccard, components, the
#: incremental store probe, and the capstone funnel: the ones whose
#: chunk guards are what two decades of blow-up actually stress.
#: ANN/graph families scale ~flat (r9 spot check: 1.3-2.0x) and stay
#: on the 10x tier.
_SCALE100_QUERIES = [
    "q29_ngram_jaccard_pairs",
    "q34_minhash_lsh_pairs",
    "q98_dup_components",
    "q296_incremental_lsh_dedup",
    "q324_monthly_drop_pipeline",
]


def _scale100_scenario(sparksession, sf_dir: str) -> dict:
    """The committed 100x tier (VERDICT r9 Next-round #4 — previously a
    hand-run spot check in bench_evidence/r9_scale100/): a factor-100
    blow-up of the sf0.001 SIBLING of ``sf_dir`` (same absolute volume
    as sf0.1, ratios measured across TWO decades), re-running the
    quadratic-risk families unchanged. Records wall, rows, the
    100x/1x ratio (1x walls measured on the same JVM seconds before),
    the tier-independent per-task pair caps, and q29's output-bound
    contract: its wall is linear in its OWN output rows — seconds per
    million output pairs is recorded at both tiers so the one
    legitimately superlinear wall can't be misread as a pathology.
    Skip with SPARK_GRAFT_SCALE100=0 (local iteration) — the driver's
    default run carries the block."""
    import shutil
    import tempfile

    base = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.environ.get("SPARK_GRAFT_SCALE100", "1") == "0":
        return {"skipped": "SPARK_GRAFT_SCALE100=0"}
    if not os.path.isdir(base):
        return {"skipped": f"no sf0.001 sibling next to {sf_dir}"}
    factor = 100
    out: dict = {"factor": factor, "base_sf": base}
    qs = entrymod.queries()

    base_walls: dict[str, float] = {}
    base_rows: dict[str, int] = {}
    for name in _SCALE100_QUERIES:
        t0 = time.perf_counter()
        base_rows[name] = qs[name](sparksession, base).count()
        base_walls[name] = time.perf_counter() - t0

    work = tempfile.mkdtemp(prefix="bench_scale100_")
    try:
        t0 = time.perf_counter()
        _build_scale_tier(sparksession, base, factor, work)
        out["gen_s"] = round(time.perf_counter() - t0, 3)
        for name in _SCALE100_QUERIES:
            t0 = time.perf_counter()
            n = qs[name](sparksession, work).count()
            dt = time.perf_counter() - t0
            out[f"{name}_s"] = round(dt, 3)
            out[f"{name}_rows"] = n
            out[f"{name}_ratio_vs_1x"] = round(dt / base_walls[name], 2)
            print(
                f"# scale100_{name}: {dt:.3f}s ({n} rows, "
                f"{dt / base_walls[name]:.1f}x the 1x time)",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # tier-independent guard constants, restated next to the walls
    out["q29_max_task_pairs"] = 4096 * 4096
    out["q34_max_task_pairs"] = 1024 * 1024
    out["q98_max_task_pairs"] = 1024 * 1024
    out["q296_max_task_pairs"] = 1024 * 1024
    # q29's output-bound contract: s per million output pairs at each
    # tier — comparable numbers here mean the wall tracked its output
    q29 = "q29_ngram_jaccard_pairs"
    out["q29_s_per_mrow_1x"] = round(base_walls[q29] / max(base_rows[q29], 1) * 1e6, 3)
    out["q29_s_per_mrow_100x"] = round(
        out[f"{q29}_s"] / max(out[f"{q29}_rows"], 1) * 1e6, 3
    )
    return out


def _band_sig_file_stats(paths: list[str]) -> list[tuple]:
    """Per-file (band_min, band_max, sig_min, sig_max) from parquet
    footer statistics — the skipping metadata a min/max-pruning reader
    (Delta/Iceberg data skipping, pushed range predicates) consults.
    A file with any statless row group records (None, ...) — never
    prunable, a skipper must read it."""
    import pyarrow.parquet as _pq

    file_stats = []
    for fpath in paths:
        md = _pq.ParquetFile(fpath).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        bmin = bmax = smin = smax = None
        for rg in range(md.num_row_groups):
            bst = md.row_group(rg).column(cols["band"]).statistics
            sst = md.row_group(rg).column(cols["sig"]).statistics
            if bst is None or sst is None or not bst.has_min_max or not sst.has_min_max:
                bmin, smin = None, None  # no stats -> never prunable
                break
            bmin = bst.min if bmin is None else min(bmin, bst.min)
            bmax = bst.max if bmax is None else max(bmax, bst.max)
            smin = sst.min if smin is None else min(smin, sst.min)
            smax = sst.max if smax is None else max(smax, sst.max)
        file_stats.append((bmin, bmax, smin, smax))
    return file_stats


def _store_drops_scaling_scenario(sparksession) -> dict:
    """Drop-count scaling proof for the store catalog (VERDICT r11
    Next-round #5): q358 proves a year — 12 drops; a production decade
    is 120+. The two risks at high drop count are (a) whole-store
    partition-discovery/listing cost growing super-linearly in the
    number of drop directories and (b) per-probe files-touched growing
    with total FILES rather than with drops. Build two stores holding
    IDENTICAL total rows (120k) at identical per-drop file granularity
    (2 range-clustered files per drop) — one as 12 drops, one as 120 —
    and record per tier: total load wall, whole-store read wall
    (listing + count), file count, and footer-min/max files-touched
    for a fixed 4-key (band, sig) probe set, absolute and per drop.
    File granularity is 16 range-clustered files per drop over 4
    bands, so each file covers ~one quarter of one band's sig range —
    fine enough that a probe key prunes to ~1 file per drop (the
    production layout; 1-2 files per drop would make every file's
    min/max box cover every key and the "pruning" vacuous).
    The counters prove: read wall ~O(drops) (the 120-drop read costs
    roughly the extra listing, not 10x the work) and probe
    files-per-drop FLAT (~the same <=1-file-per-band-range figure at
    either drop count — range clustering does not decay as a store
    ages)."""
    import glob as _glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from owl_etl_spark.operators.stores import StoreCatalog

    out: dict = {}
    total_rows = 120_000
    probe_keys = [(0, 100), (1, 500), (2, 900), (3, 300)]
    root = tempfile.mkdtemp(prefix="bench_dropscale_")
    try:
        cat = StoreCatalog(root)
        for n_drops in (12, 120):
            name = f"sigs{n_drops}"
            per = total_rows // n_drops
            t0 = time.perf_counter()
            for k in range(n_drops):
                # 2 source partitions: these per-drop frames are tiny
                # (<=10k rows); the default 32 splits would bill 30+
                # empty-task launches per drop to the write wall
                df = sparksession.range(k * per, (k + 1) * per, 1, 2).select(
                    (F.col("id") % 4).alias("band"),
                    ((F.col("id") * 131) % 1000).alias("sig"),
                    F.col("id").alias("doc_id"),
                )
                cat.write_drop(df, name, ["band", "sig"], f"m{k:03d}", target_partitions=16)
            out[f"write_total_s_{n_drops}"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            n = cat.read(sparksession, name).count()
            out[f"read_wall_s_{n_drops}"] = round(time.perf_counter() - t0, 3)
            assert n == per * n_drops, f"{name}: read {n} rows, wrote {per * n_drops}"
            files = sorted(
                _glob.glob(os.path.join(root, name, "data", "drop=*", "*.parquet"))
            )
            out[f"files_total_{n_drops}"] = len(files)
            stats = _band_sig_file_stats(files)
            touched = 0
            for bmin, bmax, smin, smax in stats:
                if bmin is None:
                    touched += 1
                    continue
                if any(
                    bmin <= b <= bmax and smin <= s <= smax for b, s in probe_keys
                ):
                    touched += 1
            out[f"probe_files_touched_{n_drops}"] = touched
            out[f"probe_files_per_drop_{n_drops}"] = round(touched / n_drops, 3)
        out["probe_keys"] = len(probe_keys)
        if out.get("read_wall_s_12"):
            out["read_wall_ratio_120_over_12"] = round(
                out["read_wall_s_120"] / out["read_wall_s_12"], 2
            )
        out["probe_per_drop_ratio_120_over_12"] = round(
            out["probe_files_per_drop_120"] / max(out["probe_files_per_drop_12"], 1e-9), 2
        )
        print(
            "# store_probe_120drop: read 12-drop "
            f"{out['read_wall_s_12']}s vs 120-drop {out['read_wall_s_120']}s "
            f"(x{out.get('read_wall_ratio_120_over_12')}); probe files/drop "
            f"{out['probe_files_per_drop_12']} vs {out['probe_files_per_drop_120']}",
            file=sys.stderr,
        )
    except Exception as e:  # measurement must never sink the bench
        out["error"] = str(e)[:200]
        print(f"# store_probe_120drop FAILED: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _scale_stress_scenario(
    sparksession, sf_dir: str, headline_timings: dict[str, float]
) -> dict[str, float]:
    """Measure the heaviest families at a FACTOR-times synthetic blow-up
    of sf0.1 (VERDICT r7 "Next round" #4): until this round the 100 TB
    claims rested on plan-shape tests, contract raises, and recorded
    per-task bounds — no committed run exercised a tier where the
    guards matter end-to-end. This scenario builds a 10x tier on the
    fly (deterministically — replica cross-join, key-space offsets, no
    RNG) and re-runs the REGISTERED queries against it unchanged:

    - documents x10: replicas carry a ' ~rK' suffix, so EXACT dup
      classes are preserved within each replica while cross-replica
      copies stay hash-distinct. At the SHINGLE level, however, a
      long text differing only in a trailing suffix remains a
      near-dup of its replicas — so q29/q34/q296's candidate-pair
      OUTPUT grows superlinearly (~x90 pairs at x10) by
      construction. That is the point of the tier: the per-task
      bounds must hold when duplicate mass explodes, and the
      recorded walls are output-bound, not a plan pathology
      (task-pair caps recorded alongside).
    - embeddings x10: per-replica deterministic scaling of the vector
      (cluster structure preserved, 10x corpus for IVF/PQ).
    - events x10 with 10x distinct user_ids (15k keys) — the
      sessionizer's state dimension, not just row volume.
    - lineitem/orders x10 via orderkey offset over the same part/
      supplier vertex sets: 10x baskets for association rules, 10x
      edge multiplicity for the graph families.

    Recorded per query: wall seconds, rows, and time ratio vs the same
    query's 1x headline run THIS round (same JVM, same session) — the
    measured scaling exponent (ratio ~< factor = sub-linear). The
    dedup task-pair bounds are restated from the operator guards
    (max_group^2, constants independent of tier), and the sessionize
    run records state rows/bytes at 10x key cardinality with state
    partitions pinned to 32 — the local core count, which bounds this
    single-JVM run (the ~100-keys-per-partition rule the streaming
    scenario documents would give ~150 partitions for 15k keys, but
    local[32] cannot run more than 32 tasks at once, so the extra
    partitions would only add per-partition state-store overhead; on
    a real cluster size by the rule). Generation time is recorded
    separately (gen_s) and not billed to any query."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from owl_etl_spark.sources.readers import read_events
    from owl_etl_spark.streaming.joins import sessionize_stateful

    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
    out: dict[str, float] = {"factor": factor}
    work = tempfile.mkdtemp(prefix="bench_scale_")
    try:
        t0 = time.perf_counter()
        _build_scale_tier(sparksession, sf_dir, factor, work)
        out["gen_s"] = round(time.perf_counter() - t0, 3)

        qs = entrymod.queries()
        for name in _SCALE_QUERIES:
            t0 = time.perf_counter()
            n = qs[name](sparksession, work).count()
            dt = time.perf_counter() - t0
            out[f"{name}_s"] = round(dt, 3)
            out[f"{name}_rows"] = n
            base = headline_timings.get(name)
            if base:
                out[f"{name}_ratio_vs_1x"] = round(dt / base, 2)
            print(
                f"# scale_stress_{name}: {dt:.3f}s ({n} rows"
                + (f", {dt / base:.1f}x the 1x time" if base else "")
                + ")",
                file=sys.stderr,
            )
        # Guard bounds are tier-independent constants — restated here so
        # the scale record carries them next to the measured walls.
        out["q29_max_task_pairs"] = 4096 * 4096
        out["q34_max_task_pairs"] = 1024 * 1024
        out["q98_max_task_pairs"] = 1024 * 1024

        # Files-touched-per-probe (VERDICT r10 Next-round #3): how many
        # parquet files of a (band, sig)-range-clustered store must a
        # min/max-statistics-skipping reader (the capability
        # write_sorted_parquet exists to enable — Delta/Iceberg data
        # skipping, or a pushed IN/range predicate) touch for two probe
        # shapes — a ~20-doc "needle" trickle and a full monthly drop?
        # Measured against a dedicated store written at PRODUCTION file
        # granularity (64 range-clustered files): at bench scale q358's
        # own drops each compact to a single file, which makes file
        # skipping vacuous by construction (1 file spans every band) —
        # at 100 TB a drop is thousands of files and this layout is
        # what keeps a probe O(keys), not O(store). The needle number
        # is the pruning proof (a small fraction of files, ~1 file per
        # touched key range); the full-drop probe documents the dense
        # regime, which legitimately overlaps most files.
        try:
            import glob as _glob

            import pyarrow.parquet as _pq

            from owl_etl_spark.operators.dedup import minhash_band_signatures
            from owl_etl_spark.operators.stores import session_catalog, sf_tag

            cat = session_catalog()
            meas_name = f"bench_probe_meas_{sf_tag(work)}"
            cat.reset(meas_name)
            all_sigs = minhash_band_signatures(
                sparksession.read.parquet(f"{work}/documents.parquet"), bands=8
            )
            cat.write_drop(
                all_sigs, meas_name, ["band", "sig"], "m0", target_partitions=64
            )
            data_dir = os.path.join(cat.store_path(meas_name), "data")
            file_stats = _band_sig_file_stats(
                sorted(_glob.glob(os.path.join(data_dir, "drop=*", "*.parquet")))
            )
            docs10 = sparksession.read.parquet(f"{work}/documents.parquet")
            n_docs10 = docs10.count()
            needle_mod = max(1, n_docs10 // 20)
            # 17 % needle_mod, not bare 17: on a corpus under ~360 docs
            # needle_mod <= 17 and a bare-17 residue matches NOTHING,
            # silently recording a vacuous 0-key "pruning proof"
            needle_res = 17 % needle_mod
            for label, probe in (
                ("needle", docs10.filter(F.col("doc_id") % needle_mod == needle_res)),
                ("fulldrop", docs10.filter(F.col("doc_id") % 12 == 11)),
            ):
                by_band: dict[int, list[str]] = {}
                for r in (
                    minhash_band_signatures(probe, bands=8)
                    .select("band", "sig")
                    .distinct()
                    .collect()
                ):
                    by_band.setdefault(r.band, []).append(r.sig)
                touched = 0
                for bmin, bmax, smin, smax in file_stats:
                    if bmin is None:
                        touched += 1  # statless file: a skipper must read it
                        continue
                    if any(
                        bmin <= b <= bmax and any(smin <= s <= smax for s in sigs)
                        for b, sigs in by_band.items()
                    ):
                        touched += 1
                out[f"store_probe_files_{label}"] = touched
                out[f"store_probe_keys_{label}"] = sum(len(v) for v in by_band.values())
            out["store_probe_files_total"] = len(file_stats)
            print(
                "# store_probe pruning: needle "
                f"{out.get('store_probe_files_needle')}/{len(file_stats)} files "
                f"({out.get('store_probe_keys_needle')} keys), fulldrop "
                f"{out.get('store_probe_files_fulldrop')}/{len(file_stats)} files",
                file=sys.stderr,
            )
        except Exception as e:  # measurement must never sink the bench
            out["store_probe_error"] = str(e)[:200]
            print(f"# store_probe pruning FAILED: {e}", file=sys.stderr)

        # Payload-balanced multimodal batching, measured (VERDICT r10
        # Next-round #7): multimodal.py documents the MB-payload risk —
        # mapInPandas holds one Arrow batch of payloads per task, so
        # peak memory = batch_bytes x task_threads — but nothing
        # recorded it. Fixture: the 10x tier's documents as binary
        # payloads with a planted ~0.08% of rows inflated 1000x (the
        # mixed thumbnails-and-4K-video shape — few HUGE rows, the
        # regime where row hashing actually fails). Recorded:
        # - max_batch_bytes under the default arrow maxRecordsPerBatch
        #   (10k rows/batch — rows-based, payload-blind) vs under a
        #   payload-aware 256: the sizing guidance is
        #   maxRecordsPerBatch <= executor_budget / (p99_payload x
        #   task_threads), and the pair of numbers shows the lever's
        #   actual range on this corpus;
        # - per-TASK payload-bytes max/median under hash (row-balanced)
        #   repartition vs a greedy size-round-robin (LPT-style)
        #   payload balance — the upstream repartition the module
        #   docstring prescribes (at 100 TB the ordering window is a
        #   range+salt pass, not a global sort; the balance law is the
        #   same).
        try:
            import pandas as _pd

            from pyspark.sql import Window as _Window

            from owl_etl_spark.operators.multimodal import (
                extract_features,
                to_binary_payload,
            )

            docs10 = sparksession.read.parquet(f"{work}/documents.parquet")
            # the FEW-HUGE-ROWS regime (~0.08% of rows at 1000x — the
            # 4K-video-among-thumbnails shape): this is where row
            # hashing actually fails. With many moderately-big rows
            # (say 1% at 100x) hash averaging is already fine — the
            # imbalance lever only pays when #huge ~ task width, so
            # that is what the fixture plants.
            skew_mod = 1250
            skewed = docs10.withColumn(
                "text",
                F.when(
                    F.col("doc_id") % skew_mod == 0, F.repeat(F.col("text"), 1000)
                ).otherwise(F.col("text")),
            )
            payloads = to_binary_payload(skewed).localCheckpoint()
            out["multimodal_rows"] = payloads.count()
            out["multimodal_total_mb"] = round(
                (payloads.agg(F.sum("n_bytes")).collect()[0][0] or 0) / 1e6, 1
            )

            def _batch_bytes(batches):
                for pdf in batches:
                    yield _pd.DataFrame(
                        {"batch_bytes": [int(sum(len(p) for p in pdf["payload"]))]}
                    )

            prev_batch = sparksession.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
            )
            for label, recs in (("default", prev_batch), ("tuned256", "256")):
                sparksession.conf.set(
                    "spark.sql.execution.arrow.maxRecordsPerBatch", recs
                )
                try:
                    mx = (
                        payloads.mapInPandas(_batch_bytes, "batch_bytes long")
                        .agg(F.max("batch_bytes"))
                        .collect()[0][0]
                    )
                finally:
                    sparksession.conf.set(
                        "spark.sql.execution.arrow.maxRecordsPerBatch", prev_batch
                    )
                out[f"multimodal_max_batch_mb_{label}"] = round((mx or 0) / 1e6, 2)

            # per-task payload bytes: row-balanced hash vs greedy
            # size-round-robin (descending-size row_number mod width)
            width = 32
            task_bytes = lambda df: (  # noqa: E731 - local measurement lambda
                df.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.sum("n_bytes").alias("b"))
                .agg(
                    F.max("b").alias("mx"),
                    F.expr("percentile(b, 0.5)").alias("md"),
                )
                .collect()[0]
            )
            hash_part = task_bytes(payloads.repartition(width, "doc_id"))
            # balanced layout: size-round-robin slot = rank % width,
            # measured per SLOT. The slot→task mapping must be EXACT —
            # DataFrame repartition(col) murmur-hashes (collides ~1/e
            # of 32 slots) and repartitionByRange samples boundaries
            # (merges slots); in production the exact mapping is an
            # RDD HashPartitioner over the integer slot (Int.hashCode
            # is the identity, so slot % width → task 1:1). Per-slot
            # sums ARE the per-task bytes under that partitioner.
            lpt = payloads.withColumn(
                "__slot",
                (
                    F.row_number().over(
                        _Window.orderBy(F.col("n_bytes").desc(), F.col("doc_id"))
                    )
                    - 1
                )
                % width,
            )
            lpt_part = (
                lpt.groupBy("__slot")
                .agg(F.sum("n_bytes").alias("b"))
                .agg(
                    F.max("b").alias("mx"),
                    F.expr("percentile(b, 0.5)").alias("md"),
                )
                .collect()[0]
            )
            out["multimodal_task_mb_hash_max"] = round(hash_part["mx"] / 1e6, 2)
            out["multimodal_task_mb_hash_median"] = round(hash_part["md"] / 1e6, 2)
            out["multimodal_task_mb_lpt_max"] = round(lpt_part["mx"] / 1e6, 2)
            out["multimodal_task_mb_lpt_median"] = round(lpt_part["md"] / 1e6, 2)

            # and the real featurize pass over the skewed corpus, timed
            t0 = time.perf_counter()
            nfeat = extract_features(payloads).count()
            out["multimodal_featurize_s"] = round(time.perf_counter() - t0, 3)
            out["multimodal_featurize_rows"] = nfeat
            release(payloads)
            print(
                "# multimodal payload: "
                f"{out['multimodal_total_mb']}MB total, max batch "
                f"{out['multimodal_max_batch_mb_default']}MB (default) vs "
                f"{out['multimodal_max_batch_mb_tuned256']}MB (256/batch); "
                f"task max/median {out['multimodal_task_mb_hash_max']}/"
                f"{out['multimodal_task_mb_hash_median']}MB (hash) vs "
                f"{out['multimodal_task_mb_lpt_max']}/"
                f"{out['multimodal_task_mb_lpt_median']}MB (balanced); "
                f"featurize {out['multimodal_featurize_s']}s",
                file=sys.stderr,
            )
        except Exception as e:  # measurement must never sink the bench
            out["multimodal_error"] = str(e)[:200]
            print(f"# multimodal payload FAILED: {e}", file=sys.stderr)

        # Sessionize at 10x events AND 10x keys.
        prev_parts = sparksession.conf.get("spark.sql.shuffle.partitions")
        sparksession.conf.set("spark.sql.shuffle.partitions", "32")
        try:
            ev_schema = sparksession.read.parquet(f"{work}/events.parquet").schema
            src = (
                sparksession.readStream.schema(ev_schema)
                .parquet(f"{work}/events.parquet")
                # the tier stores ts as TIMESTAMP_NTZ (read_events'
                # normalized form); watermarks require TIMESTAMP
                .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
            )
            # actual tier row count (factor x the SF's events) — NOT
            # hardcoded to sf0.1's 100k, so ev/s stays honest when the
            # bench runs at another SF
            n_events = sparksession.read.parquet(f"{work}/events.parquet").count()
            t0 = time.perf_counter()
            q = (
                sessionize_stateful(src, "user_id", "ts", gap_seconds=1800)
                .writeStream.format("memory")
                .queryName("bench_scale_sessionize")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            dt = time.perf_counter() - t0
            state_rows = 0
            state_bytes = 0
            for prog in q.recentProgress:
                for op in prog.get("stateOperators") or []:
                    state_rows = max(state_rows, op.get("numRowsTotal") or 0)
                    state_bytes = max(state_bytes, op.get("memoryUsedBytes") or 0)
            out["sessionize_s"] = round(dt, 3)
            out["sessionize_events_per_s"] = round(n_events / dt)
            out["sessionize_state_rows"] = state_rows
            out["sessionize_state_bytes"] = state_bytes
            sparksession.catalog.dropTempView("bench_scale_sessionize")
            print(
                f"# scale_stress_sessionize: {dt:.3f}s "
                f"({out['sessionize_events_per_s']} ev/s, "
                f"state {state_rows} rows / {state_bytes} B)",
                file=sys.stderr,
            )

            # The remaining streaming families at the same 10x tier
            # (VERDICT r8 "Next round" #6): the sessionizer's 10x
            # number is what retired its throughput debate — record
            # the same events/s + peak-state evidence for the other
            # state-bearing operators. Same pinned partition count,
            # same availableNow harness, ENGINE time only.
            from owl_etl_spark.streaming.dedup_stream import (
                streaming_cdc_apply,
                streaming_latest_per_key,
            )
            from owl_etl_spark.streaming.joins import stream_stream_interval_join
            from owl_etl_spark.streaming.sketch_stream import (
                streaming_cms,
                streaming_hll,
            )
            from owl_etl_spark.streaming.windows import hourly_event_counts

            def _scale_stream(label: str, stream_df, output_mode: str) -> None:
                t0 = time.perf_counter()
                sq = (
                    stream_df.writeStream.format("memory")
                    .queryName(f"bench_scale_{label}")
                    .outputMode(output_mode)
                    .trigger(availableNow=True)
                    .start()
                )
                sq.awaitTermination()
                sdt = time.perf_counter() - t0
                srows = 0
                sbytes = 0
                in_rows = 0
                for prog in sq.recentProgress:
                    in_rows += prog.get("numInputRows") or 0
                    for op in prog.get("stateOperators") or []:
                        srows = max(srows, op.get("numRowsTotal") or 0)
                        sbytes = max(sbytes, op.get("memoryUsedBytes") or 0)
                # denominator = rows the stream ACTUALLY ingested (from
                # recentProgress numInputRows): interval_join/cdc consume
                # filtered subsets of the events table, so dividing the
                # full corpus count by wall would overstate them
                denom = in_rows if in_rows > 0 else n_events
                out[f"{label}_s"] = round(sdt, 3)
                out[f"{label}_input_rows"] = in_rows
                out[f"{label}_events_per_s"] = round(denom / sdt)
                out[f"{label}_state_rows"] = srows
                out[f"{label}_state_bytes"] = sbytes
                sparksession.catalog.dropTempView(f"bench_scale_{label}")
                print(
                    f"# scale_stress_{label}: {sdt:.3f}s "
                    f"({out[f'{label}_events_per_s']} ev/s, "
                    f"state {srows} rows / {sbytes} B)",
                    file=sys.stderr,
                )

            def _ev_src():
                return (
                    sparksession.readStream.schema(ev_schema)
                    .parquet(f"{work}/events.parquet")
                    .select(
                        "event_id",
                        F.col("ts").cast("timestamp").alias("ts"),
                        "user_id",
                        "event_type",
                        "value",
                    )
                )

            _scale_stream(
                "hourly_counts",
                hourly_event_counts(
                    _ev_src().withColumn(
                        "value", F.round(F.col("value") * 100).cast("long")
                    )
                ),
                "complete",
            )
            cdc_in = _ev_src().withColumn("us", F.unix_micros("ts")).withColumn(
                "seq",
                F.format_string("%020d%012d", F.col("us"), F.col("event_id")),
            )
            _scale_stream(
                "cdc_apply",
                streaming_cdc_apply(
                    cdc_in,
                    keys=["user_id"],
                    sequence_col="seq",
                    op_col="event_type",
                    watermark_col="ts",
                    delete_ops=("error",),
                    state_timeout_ms=None,
                ),
                "append",
            )
            _scale_stream(
                "latest_per_key",
                streaming_latest_per_key(
                    _ev_src().withColumn("us", F.unix_micros("ts")),
                    keys=["user_id"],
                    recency_col="us",
                    watermark_col="ts",
                    state_timeout_ms=None,
                ),
                "append",
            )
            _scale_stream(
                "interval_join",
                stream_stream_interval_join(
                    _ev_src()
                    .filter(F.col("event_type") == "purchase")
                    .select("user_id", F.col("ts").alias("l_ts")),
                    _ev_src()
                    .filter(F.col("event_type") == "click")
                    .select("user_id", F.col("ts").alias("r_ts")),
                    key="user_id",
                ),
                "append",
            )
            _scale_stream(
                "cms",
                streaming_cms(_ev_src(), "user_id"),
                "complete",
            )
            _scale_stream(
                "hll",
                streaming_hll(_ev_src(), ["event_type"], "user_id"),
                "complete",
            )
        finally:
            sparksession.conf.set("spark.sql.shuffle.partitions", prev_parts)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def _check_regression(timings: dict[str, float], total: float, sf: float) -> None:
    """Regression guard: compare against the newest BENCH_r*.json
    (previous round's recorded run) and exit non-zero if any headline
    query regressed >1.5x, with a +1.0s absolute allowance so Spark
    fixed-cost noise on sub-second queries can't false-positive
    (run-to-run noise at sf0.1 is a few hundred ms per query). Skip
    with SPARK_GRAFT_NO_GUARD=1 or when no prior round file exists /
    the sf differs. The JSON line above is always printed first."""
    import glob

    if os.environ.get("SPARK_GRAFT_NO_GUARD"):
        return
    here = os.path.dirname(os.path.abspath(__file__))
    prior_files = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    # Walk newest-first to the most recent PARSEABLE prior: the driver
    # wraps the JSON line under "parsed", which can be null when its tail
    # capture missed the line (BENCH_r05.json) — such rounds are skipped
    # rather than crashing the gate (round-5 finding, bench.py:627).
    prior = None
    prior_name = None
    for pf in reversed(prior_files):
        try:
            with open(pf) as f:
                cand = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(cand, dict):
            cand = cand.get("parsed") or cand
        if isinstance(cand, dict) and isinstance(cand.get("queries"), dict):
            prior, prior_name = cand, os.path.basename(pf)
            break
    if prior is None or prior.get("sf") != sf:
        return
    regressions = []
    common_old = common_new = 0.0
    # Compare by qNNN prefix: rounds <= 7 recorded full query names,
    # round 8+ lines key by the bare prefix (tail-window budget).
    new_by_prefix = {k.split("_")[0]: v for k, v in timings.items()}
    for name, old in prior.get("queries", {}).items():
        new = new_by_prefix.get(name.split("_")[0])
        if new is None:
            continue
        common_old += old
        common_new += new
        if new > old * 1.5 + 1.0:
            regressions.append(f"{name}: {old:.3f}s -> {new:.3f}s")
    # Totals are only comparable over the INTERSECTION of headline
    # sets — newly added headline queries must not read as a
    # regression of the old ones.
    if common_old and common_new > common_old * 1.5 + 2.0:
        regressions.append(f"COMMON TOTAL: {common_old:.3f}s -> {common_new:.3f}s")
    if regressions:
        print(
            "BENCH REGRESSION vs " + prior_name + ": "
            + "; ".join(regressions),
            file=sys.stderr,
        )
        sys.exit(1)


if __name__ == "__main__":
    main()
