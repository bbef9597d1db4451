"""Round-8 wave-1: incremental cross-drop LSH dedup
(operators/dedup.py: minhash_band_signatures / incremental_lsh_pairs /
_chunked_cross_expansion). The load-bearing law is
incremental ≡ one-shot: unioning each drop's incremental pairs must
reproduce the full-corpus minhash_lsh_pairs result exactly, for any
partition of the corpus into drops.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from owl_etl_spark.operators.dedup import (
    _chunked_cross_expansion,
    incremental_lsh_pairs,
    minhash_band_signatures,
    minhash_lsh_pairs,
)
from owl_etl_spark.sources.writers import write_sorted_parquet


def _corpus(spark, n=300, dup_every=7):
    """Synthetic docs where every dup_every-th doc shares one of three
    boilerplate texts — duplicate classes deliberately SPAN the
    drop-1/drop-2 split (doc_id % 3) so cross-drop pairs exist."""
    body = (
        "array_join(transform(sequence(1, 12), "
        "i -> concat('tok', pmod(xxhash64(id * 31 + i), 400))), ' ')"
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % dup_every == 0,
            F.concat(F.lit("shared boilerplate text block number "), (F.col("id") % 3).cast("string")),
        )
        .otherwise(F.expr(body))
        .alias("text"),
    )


def _pairs_set(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_incremental_union_equals_one_shot(spark):
    docs = _corpus(spark)
    one_shot = _pairs_set(minhash_lsh_pairs(docs, bands=8))
    drop1 = docs.filter(F.col("doc_id") % 3 != 0)
    drop2 = docs.filter(F.col("doc_id") % 3 == 0)
    sigs1 = minhash_band_signatures(drop1, bands=8)
    sigs2 = minhash_band_signatures(drop2, bands=8)
    inc = _pairs_set(incremental_lsh_pairs(sigs1, None)) | _pairs_set(
        incremental_lsh_pairs(sigs2, sigs1)
    )
    assert inc == one_shot
    assert one_shot, "corpus produced no candidate pairs — test is vacuous"
    # and cross-drop pairs genuinely exist (the incremental path's point)
    d2 = {r.doc_id for r in drop2.select("doc_id").collect()}
    assert any((a in d2) != (b in d2) for a, b in one_shot)


def test_incremental_three_drops(spark):
    """Associativity over more than two drops: each drop joins the
    union of all earlier drops' signatures."""
    docs = _corpus(spark, n=210, dup_every=5)
    one_shot = _pairs_set(minhash_lsh_pairs(docs, bands=4))
    sigs = [
        minhash_band_signatures(
            docs.filter(F.col("doc_id") % 3 == k), bands=4
        )
        for k in range(3)
    ]
    inc = _pairs_set(incremental_lsh_pairs(sigs[0], None))
    inc |= _pairs_set(incremental_lsh_pairs(sigs[1], sigs[0]))
    inc |= _pairs_set(incremental_lsh_pairs(sigs[2], sigs[0].unionByName(sigs[1])))
    assert inc == one_shot


def test_cross_expansion_guard_is_lossless(spark):
    """A band bucket with 60 store members and 45 new members, cap 8:
    the chunked cross expansion must emit exactly the 60*45 pairs the
    unguarded form does, each normalized to id_a < id_b."""
    a = list(range(0, 120, 2))  # 60 even ids
    b = list(range(1, 90, 2))  # 45 odd ids
    joined = spark.createDataFrame(
        [("b0", "s0", sorted(a), sorted(b))], "band string, sig string, ids_a array<bigint>, ids_b array<bigint>"
    )
    got = _pairs_set(_chunked_cross_expansion(joined, max_group=8))
    want = {(min(x, y), max(x, y)) for x in a for y in b}
    assert got == want
    unguarded = _pairs_set(_chunked_cross_expansion(joined, max_group=1 << 30))
    assert unguarded == want


def test_store_roundtrip_preserves_signatures(spark):
    """write_sorted_parquet(band, sig) -> read back: same rows, and the
    store's files are range-clustered so a band probe prunes."""
    docs = _corpus(spark, n=120)
    sigs = minhash_band_signatures(docs, bands=8)
    work = tempfile.mkdtemp(prefix="lsh_store_test_")
    try:
        write_sorted_parquet(sigs, f"{work}/sigs", ["band", "sig"])
        back = spark.read.parquet(f"{work}/sigs")
        orig = {(r.doc_id, r.band, r.sig) for r in sigs.collect()}
        got = {(r.doc_id, r.band, r.sig) for r in back.collect()}
        assert got == orig
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_q296_matches_its_oracle_shape(spark):
    """q296's registered function returns (id_a, id_b) pairs equal to
    the one-shot q34 result at smoke scale."""
    import __spark_entry__ as m
    from tests.conftest import SF_SMOKE

    q = m.queries()
    got = _pairs_set(q["q296_incremental_lsh_dedup"](spark, SF_SMOKE))
    want = _pairs_set(q["q34_minhash_lsh_pairs"](spark, SF_SMOKE))
    assert got == want
