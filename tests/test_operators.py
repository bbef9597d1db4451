"""Unit tests for library operators: latest-per-key, dedup family,
KNN recall, sessionize edges, quality gates, star-schema explode."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F


def test_latest_per_key(spark):
    from owl_etl_spark.operators.latest import latest_per_key

    df = spark.createDataFrame(
        [
            ("f1", "u1", "2025-06-30", 1),
            ("f1", "u1", "2025-07-31", 2),
            ("f1", "u1", None, 3),
            ("f2", "u2", "2025-05-31", 4),
        ],
        ["nombre", "url", "fecha", "v"],
    )
    out = {r.nombre: r.v for r in latest_per_key(df, ["nombre", "url"], "fecha", ["v"]).collect()}
    assert out == {"f1": 2, "f2": 4}


def test_minhash_lsh_superset_of_exact_duplicates(spark):
    """LSH candidates must contain every exact-duplicate pair (identical
    shingle sets → identical signatures → same band buckets)."""
    from owl_etl_spark.operators.dedup import minhash_lsh_pairs

    base = "spark window join filter scan table row batch stream merge"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra tail tokens here"), (4, "totally different words apple banana")],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df, bands=8).collect()}
    assert (1, 2) in pairs
    assert all(4 not in p for p in pairs)


def test_minhash_lsh_recall_floor_vs_exact_jaccard(spark):
    """r2 VERDICT next-#6: the r2 hash-family swap changed the q34
    candidate set (1153→1243 bench rows) with only a superset-of-
    exact-DUPLICATES test guarding it. This quantifies recall against
    the full exact-Jaccard truth at threshold 0.5 on the real
    documents table, for both registered band configs (q34 uses 16/4,
    q98 uses 16/8) — a future hash-family change that silently
    degrades near-dup recall fails here. Current measured recall is
    1.000 for both; the 0.9 floor leaves room for benign family
    tweaks, not for degradation."""
    from owl_etl_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert exact, "corpus lost its planted near-dups"
    for bands in (4, 8):
        cand = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(docs, bands=bands).collect()
        }
        recall = len(exact & cand) / len(exact)
        assert recall >= 0.9, f"bands={bands}: LSH recall {recall:.3f} < 0.9 floor"


def test_ngram_jaccard_exact_pair(spark):
    from owl_etl_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        ["doc_id", "text"],
    )
    rows = ngram_jaccard_pairs(df, threshold=0.99).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_simhash_near_docs_share_fingerprint(spark):
    from owl_etl_spark.functions.hashing import simhash_sql

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "entirely unrelated content about databases")],
        ["doc_id", "text"],
    )
    toks = df.withColumn("toks", F.split(F.col("text"), " "))
    out = {r.doc_id: r.simhash for r in toks.withColumn("simhash", simhash_sql("toks")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_knn_lsh_recall_vs_bruteforce(spark):
    """LSH KNN is approximate; assert its hits are a subset of brute-force
    scores and recall is sane on clustered data."""
    from owl_etl_spark.operators.knn import brute_force_knn, lsh_knn
    from owl_etl_spark.sources.readers import read_table

    em = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = em.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_knn(q, em).collect()}
    ann = {(r.query_id, r.neighbor_id) for r in lsh_knn(q, em).collect()}
    recall = len(bf & ann) / len(bf)
    assert recall >= 0.3, f"suspiciously low LSH recall {recall}"


def test_sessionize_gap_boundary(spark):
    from owl_etl_spark.operators.sessionize import session_stats

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + datetime.timedelta(seconds=1800)),   # == gap → same session
        (1, t0 + datetime.timedelta(seconds=3601)),   # > gap  → new session
        (2, t0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = session_stats(df).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(by_user[1]) == [1, 2]
    assert by_user[2] == [1]


def test_anti_filter_and_skiplist(spark, tmp_path):
    from owl_etl_spark.operators.quality import anti_filter
    from owl_etl_spark.sources.readers import read_skip_list

    p = tmp_path / "skip.txt"
    p.write_text("# comment\nbanco1_f1_raw.json\n\nbanco2_f2\n")
    skip = read_skip_list(spark, str(p))
    names = {r.skip_name for r in skip.collect()}
    assert names == {"banco1_f1_raw_transformed.json", "banco2_f2_transformed.json"}

    df = spark.createDataFrame(
        [("banco1_f1_raw_transformed.json", 1), ("other_transformed.json", 2)],
        ["fname", "v"],
    )
    kept = anti_filter(df, skip, "fname", "skip_name").collect()
    assert [r.v for r in kept] == [2]


def test_split_by_predicate_partitions_rows_and_runs_input_once(spark):
    from owl_etl_spark.operators.quality import split_by_predicate

    calls = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def counted(v):
        calls.add(1)
        return v

    rows = [(i, None if i % 5 == 0 else i % 3) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, k int").withColumn("k", counted("k"))
    valid, invalid = split_by_predicate(df, F.col("k") > 0)
    got_valid = sorted((r.id, r.k) for r in valid.collect())
    got_invalid = sorted((r.id, r.k) for r in invalid.collect())

    assert {i for i, _ in got_valid}.isdisjoint(i for i, _ in got_invalid)
    assert sorted(got_valid + got_invalid) == sorted(rows)
    # a null predicate is not a pass: it goes to the invalid branch
    assert {i for i, k in got_invalid if k is None} == {0, 5, 10, 15}
    assert all(k > 0 for _, k in got_valid)
    # both branches read one materialization of the input plan
    assert calls.value == len(rows)


@pytest.mark.full
def test_star_schema_explode(spark):
    from owl_etl_spark.operators.relational import to_star_schema
    from owl_etl_spark.plans.fic_pipeline import transform_fic_documents
    from owl_etl_spark.schemas import FIC_RAW_SCHEMA

    doc = {
        "fic": {
            "nombre_fic": "f",
            "gestor": "g",
            "custodio": "c",
            "fecha_corte": "2025-07-31",
            "politica_de_inversion": "bonos",
        },
        "plazo_duracion": [{"plazo": "0-30", "participacion": 1.0}],
        "composicion_portafolio": {
            "por_activo": [{"activo": "CDT", "participacion": 0.6},
                           {"activo": "Bonos", "participacion": 0.4}],
            "por_tipo_de_renta": None,
            "por_sector_economico": None,
            "por_pais_emisor": None,
            "por_moneda": [{"moneda": "COP", "participacion": 1.0}],
            "por_calificacion": None,
        },
        "caracteristicas": {"tipo": "Abierto", "valor": 100.0,
                            "fecha_inicio_operaciones": None,
                            "no_unidades_en_circulacion": None},
        "calificacion": {"calificacion": "AAA", "fecha_ultima_calificacion": None,
                         "entidad_calificadora": "Fitch Ratings"},
        "principales_inversiones": [{"emisor": "TES", "participacion": 0.5}],
        "rentabilidad_volatilidad": [],
    }
    raw = spark.createDataFrame([doc], FIC_RAW_SCHEMA).withColumn(
        "_filename", F.lit("b_f_raw.json")
    ).withColumn("banco", F.lit("b")).withColumn("fondo", F.lit("f"))
    silver = transform_fic_documents(raw)
    tables = to_star_schema(silver)
    assert set(tables) == {
        "fic", "composicion_portafolio", "plazo_duracion", "caracteristicas",
        "calificacion", "principales_inversiones", "rentabilidad_historica",
        "volatilidad_historica", "raw_json",
    }
    comp = tables["composicion_portafolio"].collect()
    assert {(r.tipo_composicion, r.categoria) for r in comp} == {
        ("activo", "CDT"), ("activo", "Bonos"), ("moneda", "COP")
    }
    fic = tables["fic"].collect()[0]
    assert fic.nombre_fic == "f" and fic.tipo == "Renta Fija"
    rawj = tables["raw_json"].collect()[0]
    assert rawj.filename == "b_f_raw.json" and '"nombre_fic":"f"' in rawj.json_data


def test_multimodal_feature_extraction(spark):
    from owl_etl_spark.operators.multimodal import extract_features, to_binary_payload

    df = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    out = extract_features(to_binary_payload(df)).collect()[0]
    assert out.media_type == "text/plain"
    assert out.n_bytes == 11
    assert out.width == 12 and out.height == 12  # deterministic stub dims


def test_approx_stats_error_bounds(spark):
    """q53 is now a self-checking contract: it emits the exact counts
    plus booleans asserting each sketch landed inside its error bound.
    The booleans must all be TRUE (that is exactly what the oracle
    hash-verifies), and the exact counts must match an independent
    recomputation."""
    import __spark_entry__ as m

    rows = {
        r.o_orderpriority: r
        for r in m.queries()["q53_approx_stats"](spark, "/root/testdata/sf0.001").collect()
    }
    from owl_etl_spark.sources.readers import read_table

    o = read_table(spark, "/root/testdata/sf0.001", "orders")
    exact = {
        r.o_orderpriority: r.d
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    assert rows.keys() == exact.keys()
    for k, row in rows.items():
        assert row.exact_customers == exact[k], k
        assert row.distinct_ok and row.median_ok, k


def test_scd2_history_current_slice_is_latest(spark):
    """scd2_history keeps every version with validity intervals; its
    is_current slice must equal latest_per_key."""
    from owl_etl_spark.operators.latest import latest_per_key, scd2_history

    df = spark.createDataFrame(
        [
            ("f1", "2025-05-31", "a"),
            ("f1", "2025-06-30", "b"),
            ("f1", "2025-07-31", "c"),
            ("f2", "2025-07-31", "x"),
        ],
        ["k", "fecha", "val"],
    )
    hist = scd2_history(df, ["k"], "fecha").collect()
    by_row = {(r.k, r.fecha): (r.valid_to, r.is_current) for r in hist}
    assert len(hist) == 4
    assert by_row[("f1", "2025-05-31")] == ("2025-06-30", False)
    assert by_row[("f1", "2025-06-30")] == ("2025-07-31", False)
    assert by_row[("f1", "2025-07-31")] == (None, True)
    assert by_row[("f2", "2025-07-31")] == (None, True)

    current = {
        (r.k, r.fecha, r.val)
        for r in scd2_history(df, ["k"], "fecha").filter("is_current").select("k", "fecha", "val").collect()
    }
    latest = {(r.k, r.fecha, r.val) for r in latest_per_key(df, ["k"], "fecha").collect()}
    assert current == latest


def test_hash_split_stable_and_partitioned(spark):
    """hash_split: every row lands in exactly one split, assignment is
    a pure function of the key (stable under repartitioning and
    dataset growth), and fractions are roughly honored."""
    from owl_etl_spark.operators.split import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.cnt for r in s1.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > 1400 and counts["val"] > 100 and counts["test"] > 100

    # same keys, different partitioning and a subset -> identical assignment
    sub = hash_split(df.filter("k < 500").repartition(7), "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    full = {r.k: r.split for r in s1.filter("k < 500").collect()}
    assert all(full[r.k] == r.split for r in sub.collect())

    # salt derives an independent split
    salted = hash_split(df, "k", {"a": 0.5, "b": 0.5}, salt="other")
    plain = hash_split(df, "k", {"a": 0.5, "b": 0.5})
    joined = plain.alias("p").join(salted.alias("s"), "k").filter("p.split <> s.split")
    assert joined.count() > 400  # ~half differ


def test_rolling_time_agg_hand_check(spark):
    from owl_etl_spark.operators.resample import rolling_time_agg

    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:30:00", 2.0),
        (1, "2024-01-01 11:00:00", 4.0),   # exactly 3600s after first -> included
        (1, "2024-01-01 12:00:01", 8.0),   # 3601s after 11:00 -> alone
        (2, "2024-01-01 10:30:00", 100.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"]).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    out = rolling_time_agg(df, ["user_id"], "ts", {"s": F.sum("value")})
    got = {(r.user_id, str(r.ts)): r.s for r in out.collect()}
    assert got[(1, "2024-01-01 10:00:00")] == 1.0
    assert got[(1, "2024-01-01 10:30:00")] == 3.0
    assert got[(1, "2024-01-01 11:00:00")] == 7.0
    assert got[(1, "2024-01-01 12:00:01")] == 8.0
    assert got[(2, "2024-01-01 10:30:00")] == 100.0


def test_gap_fill_dense_grid(spark):
    from owl_etl_spark.operators.resample import gap_fill

    rows = [
        (1, "2024-01-01 10:05:00"),
        (1, "2024-01-01 10:55:00"),
        (1, "2024-01-01 13:10:00"),  # 11:00 and 12:00 are gaps
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    out = gap_fill(df, ["user_id"], "ts").collect()
    got = {(r.user_id, str(r.bucket)): r.n for r in out}
    assert got == {
        (1, "2024-01-01 10:00:00"): 2,
        (1, "2024-01-01 11:00:00"): 0,
        (1, "2024-01-01 12:00:00"): 0,
        (1, "2024-01-01 13:00:00"): 1,
        (2, "2024-01-01 00:00:00"): 1,
    }


@pytest.mark.full
def test_decontaminate_partitions_corpus(spark):
    from owl_etl_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),  # verbatim leak
            (2, "completely unrelated words about maritime navigation rules"),
        ],
        ["doc_id", "text"],
    )
    clean, contaminated = decontaminate(docs, bench)
    assert [r.doc_id for r in contaminated.select("doc_id").collect()] == [1]
    assert [r.doc_id for r in clean.select("doc_id").collect()] == [2]
    assert contaminated.collect()[0].n_shared >= 3
    # clean + contaminated partition the corpus
    assert clean.count() + contaminated.count() == docs.count()


def test_weighted_mixture_prefix_property(spark):
    """Raising one stratum's rate only adds rows; other strata's kept
    sets are unchanged (prefix-of-hash-order property)."""
    from owl_etl_spark.operators.split import weighted_mixture

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).cast("string").alias("src")
    )
    lo = weighted_mixture(df, "k", "src", {"true": 0.3, "false": 0.5})
    hi = weighted_mixture(df, "k", "src", {"true": 0.6, "false": 0.5})
    lo_ids = {r.k for r in lo.collect()}
    hi_ids = {r.k for r in hi.collect()}
    assert lo_ids <= hi_ids
    assert {r.k for r in lo.filter("src = 'false'").collect()} == {
        r.k for r in hi.filter("src = 'false'").collect()
    }
    # unknown strata use default_rate (drop)
    assert weighted_mixture(df, "k", "src", {"true": 0.5}).filter("src='false'").count() == 0


def test_stratified_sample_exact_counts(spark):
    from owl_etl_spark.operators.split import stratified_sample_exact

    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    out = stratified_sample_exact(df, ["g"], 7, "k")
    counts = {r.g: r.cnt for r in out.groupBy("g").agg(F.count("*").alias("cnt")).collect()}
    assert counts == {"0": 7, "1": 7, "2": 7}
    # stable: same pick on repartitioned input
    again = stratified_sample_exact(df.repartition(13), ["g"], 7, "k")
    assert {r.k for r in out.collect()} == {r.k for r in again.collect()}
    # small stratum returns all its rows
    tiny = stratified_sample_exact(df.filter("k < 2"), ["g"], 7, "k")
    assert tiny.count() == 2


def test_skew_report_hand_check(spark):
    from owl_etl_spark.operators.skew import skew_report

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 2 + [("c",)] * 1, ["k"]
    )
    r = skew_report(df, "k").collect()[0]
    assert (r.n_keys, r.max_rows) == (3, 6)
    assert r.avg_rows == 3.0
    assert r.skew_ratio == 2.0


def test_edit_distance_self_join_blocked(spark):
    from owl_etl_spark.operators.fuzzy_join import edit_distance_self_join

    df = spark.createDataFrame(
        [
            (1, "B1", "red bolt"),
            (2, "B1", "red bolts"),   # dist 1
            (3, "B1", "green screw"), # far
            (4, "B2", "red bolt"),    # other block: never paired with 1
        ],
        ["pk", "brand", "name"],
    )
    out = edit_distance_self_join(df, "pk", "name", ["brand"], 2).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in out] == [(1, 2, 1)]


def test_chunk_tokens_shapes(spark):
    import pytest as _pytest
    from owl_etl_spark.functions.text import chunk_tokens, tokens

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(120))),  # 120 toks -> 3 chunks
         (2, " ".join(f"t{i}" for i in range(50))),   # exactly size -> 1
         (3, "a b c"),                                  # short -> 1
         (4, " ".join(f"t{i}" for i in range(51)))],   # size+1 -> 2
        ["doc_id", "text"],
    )
    out = df.select(
        "doc_id", F.posexplode(chunk_tokens(tokens(F.col("text")), 50))
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.col))
    assert len(by_doc[1]) == 3 and len(by_doc[2]) == 1 and len(by_doc[3]) == 1
    assert len(by_doc[4]) == 2
    # stride 40: chunk 1 of doc 1 starts at token 40; overlap of 10 tokens
    c0 = by_doc[1][0][1].split(" ")
    c1 = by_doc[1][1][1].split(" ")
    assert len(c0) == 50 and c1[0] == "t40" and c0[40:] == c1[:10]
    # tail chunk is short: tokens 80..119
    c2 = by_doc[1][2][1].split(" ")
    assert c2[0] == "t80" and len(c2) == 40
    with _pytest.raises(ValueError):
        chunk_tokens(tokens(F.col("text")), 10)


def test_hll_sketch_incremental_merge_consistency(spark):
    """Per-month sketches merged agree with the one-shot global sketch
    (within the composite-vs-HIP estimator gap) and land within HLL
    error bounds of the exact distinct count — the incremental-stats
    contract."""
    from owl_etl_spark.operators.sketches import distinct_sketch, merge_sketches
    from owl_etl_spark.sources.readers import read_table

    orders = read_table(spark, "/root/testdata/sf0.01", "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    monthly = distinct_sketch(orders, ["month"], "o_custkey")
    assert monthly.count() > 1  # genuinely incremental
    merged = merge_sketches(monthly.withColumn("g", F.lit(1)), ["g"]).select(
        F.hll_sketch_estimate("sketch").alias("n")
    ).collect()[0].n
    oneshot = distinct_sketch(orders.withColumn("g", F.lit(1)), ["g"], "o_custkey").select(
        F.hll_sketch_estimate("sketch").alias("n")
    ).collect()[0].n
    # union drops the HIP estimator (composite instead): near, not equal
    assert abs(merged - oneshot) / oneshot < 0.01
    exact = orders.select("o_custkey").distinct().count()
    assert abs(merged - exact) / exact < 0.05
    assert abs(oneshot - exact) / exact < 0.05


@pytest.mark.full
def test_incremental_rollup_equals_full_recompute(spark):
    """Fold monthly partials one at a time into state; the final state
    must be exactly the single-shot aggregate over all months, in any
    arrival order."""
    from owl_etl_spark.operators.rollup import finalize, merge_partial_aggs, partial_agg
    from owl_etl_spark.sources.readers import read_table

    orders = read_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    months = sorted(r.month for r in orders.select("month").distinct().collect())
    assert len(months) >= 3

    full = partial_agg(orders, ["o_orderstatus"], "o_totalprice")

    for order in (months, list(reversed(months))):  # arrival order must not matter
        state = None
        for mth in order:
            batch = partial_agg(
                orders.filter(F.col("month") == mth), ["o_orderstatus"], "o_totalprice"
            )
            state = batch if state is None else merge_partial_aggs(state, batch, ["o_orderstatus"])
        got = {tuple(r) for r in state.collect()}
        want = {tuple(r) for r in full.collect()}
        assert got == want

    fin = {r.o_orderstatus: r for r in finalize(state).collect()}
    chk = orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum(F.round(F.col("o_totalprice") * 100)) / 100, 2).alias("t")
    ).collect()
    for r in chk:
        assert fin[r.o_orderstatus].n == r.n
        assert abs(fin[r.o_orderstatus].total - r.t) < 1e-9


def test_bm25_ranking_sane(spark):
    from owl_etl_spark.operators.ranking import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark join"),        # heavy on 'spark'
            (2, "spark join window filter scan"), # all three terms once
            (3, "filter scan merge sort batch"),  # no query terms
            (4, "window window join"),            # two terms
        ],
        ["doc_id", "text"],
    )
    rows = bm25_topk(df, ["spark", "join", "window"], k=10).collect()
    ids = [r.doc_id for r in rows]
    assert 3 not in ids  # zero-match docs are absent
    assert rows[0].rank == 1 and len(ids) == 3
    # doc 2 matches all three terms once each; doc 4 matches two —
    # with equal df-weighting, more matched terms must outrank fewer
    by_id = {r.doc_id: r.score for r in rows}
    assert by_id[2] > by_id[4]
    # scores strictly ordered by (score desc, id)
    assert [r.rank for r in rows] == sorted(r.rank for r in rows)


def test_cdc_apply_changes_latest_wins_and_deletes(spark):
    from owl_etl_spark.operators.cdc import apply_changes

    feed = spark.createDataFrame(
        [
            # user 1: upsert then delete -> absent
            (1, 1, 100, "signup", 1.0),
            (2, 1, 200, "error", 2.0),
            # user 2: delete then later upsert -> present with latest value
            (3, 2, 100, "error", 0.0),
            (4, 2, 300, "purchase", 9.0),
            # user 3: timestamp tie broken by event_id (6 > 5)
            (5, 3, 100, "view", 1.0),
            (6, 3, 100, "click", 2.0),
        ],
        ["event_id", "user_id", "ts", "event_type", "value"],
    )
    out = apply_changes(
        feed, keys=["user_id"], sequence_cols=["ts", "event_id"],
        op_col="event_type", delete_ops=("error",),
    )
    got = {(r.user_id, r.event_type, r.value) for r in out.collect()}
    assert got == {(2, "purchase", 9.0), (3, "click", 2.0)}


def test_cdc_apply_is_idempotent_over_replay(spark):
    """Replaying old + new changes must equal applying to the applied
    state — the property that makes the operator safe as a CDC
    compactor."""
    from owl_etl_spark.operators.cdc import apply_changes

    old = [(1, 1, 100, "signup", 1.0), (2, 2, 100, "signup", 2.0)]
    new = [(3, 1, 200, "error", 0.0), (4, 2, 200, "purchase", 5.0)]
    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    kw = dict(keys=["user_id"], sequence_cols=["ts", "event_id"],
              op_col="event_type", delete_ops=("error",))
    full = apply_changes(spark.createDataFrame(old + new, cols), **kw)
    stepped = apply_changes(
        apply_changes(spark.createDataFrame(old, cols), **kw)
        .unionByName(spark.createDataFrame(new, cols)), **kw)
    assert {tuple(r) for r in full.collect()} == {tuple(r) for r in stepped.collect()}


def test_semantic_dedup_blocks_by_cluster(spark):
    """Pairs may only appear within a cluster, and every
    above-threshold same-cluster pair must appear."""
    import numpy as np

    from owl_etl_spark.operators.dedup import semantic_dedup_pairs

    centroids = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    rows = [
        (1, [1.0, 0.05, 0.0, 0.0]),   # cluster 0
        (2, [0.99, 0.0, 0.1, 0.0]),   # cluster 0, near 1
        (3, [0.0, 1.0, 0.0, 0.05]),   # cluster 1
        (4, [0.05, 0.98, 0.0, 0.0]),  # cluster 1, near 3
        (5, [1.0, 0.0, 0.0, 0.0]),    # cluster 0
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], ["vec_id", "embedding"]
    )
    out = semantic_dedup_pairs(df, centroids, threshold=0.9).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    # cross-cluster near pairs are impossible by construction
    assert all({a, b} <= {1, 2, 5} or {a, b} <= {3, 4} for a, b in pairs)
    assert (1, 2) in pairs and (3, 4) in pairs and (1, 5) in pairs


def test_containment_pairs_asymmetric(spark):
    """A short doc embedded verbatim in a long doc must show
    containment ~1 in the short->long direction only; symmetric
    Jaccard would miss it entirely."""
    from owl_etl_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = (
        "intro prefix words here " + short + " and a very long tail "
        + " ".join(f"tok{i}" for i in range(60))
    )
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "completely unrelated content tokens only")],
        ["doc_id", "text"],
    )
    rows = containment_pairs(df).collect()
    directed = {(r.inner_id, r.outer_id) for r in rows}
    assert (1, 2) in directed      # short contained in long
    assert (2, 1) not in directed  # long NOT contained in short
    assert all(3 not in p for p in directed)


def test_constraint_report_and_gate(spark):
    from owl_etl_spark.operators.validate import constraint_report, in_range, not_null

    child = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, -1.0), (3, None, 2.0), (4, 99, 3.0)],
        ["id", "parent_id", "amount"],
    )
    parent = spark.createDataFrame([(10,), (20,)], ["pid"])
    dup = child.unionByName(child.filter("id = 1"))  # duplicate id 1
    report = constraint_report(
        dup,
        row_checks=[not_null("parent_id"), in_range("amount", 0, 100)],
        unique_keys=[["id"]],
        foreign_keys=[("parent_id", parent, "pid")],
    )
    got = {r.constraint: r.n_violations for r in report.collect()}
    assert got == {
        "not_null:parent_id": 1,
        "in_range:amount": 1,        # -1.0
        "unique:id": 1,              # one surplus row for id 1
        "foreign_key:parent_id": 1,  # 99 has no parent
    }
    # a write gate reads the report: a clean table violates nothing
    clean = spark.createDataFrame([(1, 10, 5.0)], ["id", "parent_id", "amount"])
    gate = constraint_report(clean, row_checks=[not_null("parent_id")]).collect()
    assert [(r.constraint, r.n_violations) for r in gate] == [("not_null:parent_id", 0)]


def test_table_profile_single_pass(spark):
    from owl_etl_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (2, None, 0.5)],
        ["k", "s", "v"],
    )
    rows = {r.column: r for r in table_profile(df, ["k", "s", "v"]).collect()}
    assert rows["k"].n_rows == 3 and rows["k"].n_distinct == 2 and rows["k"].n_null == 0
    assert rows["s"].n_null == 1 and rows["s"].min_value == "a" and rows["s"].max_value == "b"
    assert rows["v"].n_null == 1 and rows["v"].min_value == "0.5"
    # single scan: exactly one aggregation source — no union of per-column jobs
    plan = table_profile(df, ["k", "s", "v"])._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
