"""Round-9 capstone: the end-to-end monthly-drop pipeline (q324).

The oracle gate proves value equality against the one-shot DuckDB
replay; these tests pin the pipeline LAWS the funnel must satisfy on
real data, and the removal rule's cross-drop guarantees that a wrong
join direction would silently break while still producing plausible
counts.
"""

from __future__ import annotations
import pytest

# r13 test tiering (VERDICT r12 #2): this suite runs in the FULL tier
# (tools/round_close.py --full-tests); the default time-boxed tier
# excludes it so the driver's verification window completes.
pytestmark = pytest.mark.full

from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _report(spark):
    return {
        r["source"]: r.asDict()
        for r in entrymod.queries()["q324_monthly_drop_pipeline"](
            spark, SF_DIR
        ).collect()
    }


def test_monthly_drop_funnel_is_monotone(spark):
    rep = _report(spark)
    assert rep, "empty report"
    for src, r in rep.items():
        assert (
            r["n_arrived"] >= r["n_quality"] >= r["n_exact"] >= r["n_kept"]
        ), (src, r)
        assert 0 <= r["tokens_kept"] <= r["tokens_arrived"], (src, r)
        assert 0 <= r["kept_micro"] <= 1_000_000, (src, r)
        # the drop is a third of the corpus; every source must appear
        assert r["n_arrived"] > 0, src


def test_monthly_drop_counts_cover_the_whole_drop(spark):
    rep = _report(spark)
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    drop = d.filter(F.col("doc_id") % 3 == 0)
    per_src = {
        r["source"]: r["n"]
        for r in drop.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {s: r["n_arrived"] for s, r in rep.items()} == per_src


def test_monthly_drop_kept_docs_never_duplicate_the_store(spark):
    """Cross-drop law: no kept doc may share a fingerprint with the
    store, and no kept doc may share an LSH band signature with a
    store doc (the greedy rule drops EVERY new doc that pairs with
    the store, so surviving a store collision is a bug)."""
    from owl_etl_spark.functions.text import normalize_text
    from owl_etl_spark.operators.dedup import minhash_band_signatures

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    store = d.filter(F.col("doc_id") % 3 != 0)
    drop = d.filter(F.col("doc_id") % 3 == 0)

    # recompute the kept set by re-running the pipeline's own stages
    # is circular; instead derive kept ids from the report via a
    # direct re-execution and check the law against raw LSH overlap
    rep_df = entrymod.queries()["q324_monthly_drop_pipeline"](spark, SF_DIR)
    total_kept = sum(r["n_kept"] for r in rep_df.collect())
    assert total_kept > 0

    # any drop doc whose full text equals a store doc's text must be
    # excluded from the kept count: build the upper bound directly
    store_fp = store.select(
        F.md5(normalize_text(F.col("text"))).alias("fp")
    ).distinct()
    drop_fp = drop.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("fp")
    )
    n_exact_clash = drop_fp.join(store_fp, "fp").count()

    sig_store = minhash_band_signatures(
        store, bands=8
    ).select("band", "sig").distinct()
    sig_drop = minhash_band_signatures(
        drop, bands=8
    )
    n_band_clash = (
        sig_drop.join(sig_store, ["band", "sig"]).select("doc_id").distinct().count()
    )
    n_drop = drop.count()
    # every fingerprint clash and every band clash is ineligible to be
    # kept, so kept <= drop - max(clash sets ∪ is a lower bound via
    # either set alone)
    assert total_kept <= n_drop - n_exact_clash or n_exact_clash == 0
    assert total_kept <= n_drop - n_band_clash or n_band_clash == 0


def test_monthly_drop_oracle_parity_small(spark):
    """Full value-level parity at sf0.001 (the gate re-proves this at
    sf0.01 on the driver's session)."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            entrymod.oracle_sql()["q324_monthly_drop_pipeline"]
        ).fetchall()
    }
    got = {
        r["source"]: (
            r["n_arrived"],
            r["n_quality"],
            r["n_exact"],
            r["n_kept"],
            r["tokens_arrived"],
            r["tokens_kept"],
            r["kept_micro"],
        )
        for r in entrymod.queries()["q324_monthly_drop_pipeline"](
            spark, SF_DIR
        ).collect()
    }
    assert got == want


# ------------------------------------------------------ round-9 wave 2


def test_lsh_calibration_pair_universe_matches_q34(spark):
    """q325's bucketed pair counts must cover EXACTLY the q34
    candidate list — same banding, same chunk guard — and every
    agreement level must be >= 2 (a candidate pair matched some band,
    i.e. two consecutive hash minima agree by construction)."""
    qs = entrymod.queries()
    cal = qs["q325_lsh_calibration"](spark, SF_DIR).collect()
    n_pairs_q34 = qs["q34_minhash_lsh_pairs"](spark, SF_DIR).count()
    assert sum(r["n_pairs"] for r in cal) == n_pairs_q34
    for r in cal:
        assert 2 <= r["n_agree"] <= 16, r
        assert 0 <= r["min_jaccard_micro"] <= r["mean_jaccard_micro"] <= 1_000_000, r


def test_drop_novelty_invariants_and_recount(spark):
    from owl_etl_spark.functions.text import normalize_text, tokens

    rep = {
        r["source"]: r
        for r in entrymod.queries()["q326_drop_lexical_novelty"](
            spark, SF_DIR
        ).collect()
    }
    assert rep
    for src, r in rep.items():
        assert 0 <= r["tokens_novel"] <= r["tokens_total"], (src, r)
        assert r["new_types"] <= max(r["tokens_novel"], 0) or r["tokens_novel"] == 0
        assert 0 <= r["novelty_micro"] <= 1_000_000

    # independent recount of one source via an anti-join instead of
    # the left-join + conditional-agg path
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    norm = d.select("doc_id", "source", normalize_text(F.col("text")).alias("s"))
    vocab = (
        norm.filter((F.col("doc_id") % 3 != 0) & (F.col("s") != ""))
        .select(F.explode(tokens(F.col("s"))).alias("tok"))
        .distinct()
    )
    some_src = sorted(rep)[0]
    occ = norm.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("s") != "") & (F.col("source") == some_src)
    ).select(F.explode(tokens(F.col("s"))).alias("tok"))
    assert occ.join(vocab, "tok", "left_anti").count() == rep[some_src]["tokens_novel"]


def test_monthly_drop_planted_cases(spark, tmp_path):
    """Synthetic corpus with PLANTED outcomes for every funnel stage:
    the quality reject, the exact store dup, the near-dup of a store
    doc, the near-dup pair within the drop, and the clean novel doc —
    each must land exactly where the pipeline contract says."""
    base_text = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sailors navigate around the ancient harbor wall carrying "
        "heavy wooden crates filled with bright oranges and lemons "
        "toward the waiting merchant ships anchored beyond the reef"
    )
    novel_text = (
        "completely different subject matter entirely about quantum "
        "chromodynamics lattice simulations measuring gluon field "
        "strength tensors across staggered fermion configurations in "
        "four dimensional euclidean spacetime volumes with periodic "
        "boundary conditions applied throughout the computation"
    )
    rows = [
        # store (doc_id % 3 != 0) — doc 2 must be UNRELATED to every
        # drop doc (a one-word variant of novel_text would correctly
        # near-dup doc 12 and break the "clean survivor" planting)
        (1, base_text, "en", "s1", len(base_text)),
        (2, "meanwhile the municipal orchestra rehearsed nine entirely "
            "unrelated symphonies beneath the renovated concert hall "
            "roof as autumn rain drummed steadily against the copper "
            "gutters flooding the cobblestone plaza outside the venue",
         "en", "s1", 200),
        # drop (doc_id % 3 == 0):
        # 3 -> exact copy of store doc 1: must fail the exact stage
        (3, base_text, "en", "s1", len(base_text)),
        # 6 -> near-dup of store doc 1 (one word changed): must pass
        #      exact, get removed at the near-dup stage
        (6, base_text.replace("oranges", "apples"), "en", "s1",
         len(base_text)),
        # 9 -> too short: must fail the quality gate (< 20 tokens)
        (9, "tiny document", "en", "s1", 13),
        # 12 -> clean novel doc: must survive every stage
        (12, novel_text, "en", "s1", len(novel_text)),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path / "planted")
    d.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    rep = entrymod.queries()["q324_monthly_drop_pipeline"](spark, sf_dir).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r["source"] == "s1"
    assert r["n_arrived"] == 4  # docs 3, 6, 9, 12
    assert r["n_quality"] == 3  # 9 rejected (too short)
    assert r["n_exact"] == 2  # 3 rejected (store fingerprint)
    assert r["n_kept"] == 1  # 6 rejected (near-dup of store doc 1)
    # the survivor is doc 12: tokens_kept = its whitespace token count
    assert r["tokens_kept"] == len(novel_text.split())


def test_incremental_lsh_three_drop_law(spark):
    """The monthly cadence generalized: THREE successive drops, each
    signed alone and probed against the accumulated signature store —
    the union of the three incremental outputs must equal the one-shot
    full-corpus pair list exactly (q296 gates the 2-drop case; a real
    pipeline runs this law every month forever)."""
    from owl_etl_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_band_signatures,
        minhash_lsh_pairs,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    drops = [d.filter(F.col("doc_id") % 3 == k) for k in (1, 2, 0)]

    store = None
    incremental = []
    for drop in drops:
        sigs = minhash_band_signatures(
            drop, bands=8
        ).localCheckpoint(eager=True)
        incremental.append(incremental_lsh_pairs(sigs, store))
        store = sigs if store is None else store.unionByName(sigs)

    got = sorted(
        (r["id_a"], r["id_b"])
        for df in incremental
        for r in df.collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(d, bands=8).collect()
    )
    assert got == want and len(want) > 0


def test_drop_length_psi_planted_drift(spark, tmp_path):
    """Planted distributions: source 'same' draws store and drop doc
    lengths from one distribution (must be stable); source 'shifted'
    gives the drop 10x longer docs (must be drifted); source 'fresh'
    exists only in the drop (must be new_segment with NULL psi)."""
    rows = []
    word = "tok "
    for i in range(120):
        doc_id = i * 3 + (1 if i % 2 == 0 else 2)  # store ids
        n = 20 + (i % 10)
        rows.append((doc_id, word * n, "en", "same", n))
        rows.append((doc_id + 600, word * n, "en", "shifted", n))
    for i in range(60):
        doc_id = i * 3  # drop ids
        n = 20 + (i % 10)
        rows.append((doc_id + 1200, word * n, "en", "same", n))
        rows.append((doc_id + 1800, word * (n * 10), "en", "shifted", n * 10))
        rows.append((doc_id + 2400, word * n, "en", "fresh", n))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path / "psi")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    got = {
        r["source"]: r
        for r in entrymod.queries()["q327_drop_length_psi"](spark, sf_dir).collect()
    }
    assert got["same"]["verdict"] == "stable", got["same"]
    assert got["shifted"]["verdict"] == "drifted", got["shifted"]
    assert got["fresh"]["verdict"] == "new_segment"
    assert got["fresh"]["psi_micro_nats"] is None
    assert got["fresh"]["n_ref"] == 0 and got["fresh"]["n_cur"] == 60
