"""Durable store-catalog tests (operators/stores.py — VERDICT r9
Next-round #1): manifest contract, per-drop idempotent replace,
schema/key pinning, watermark advance, and the two-drop incremental-
LSH replay law run THROUGH the catalog (the q328 law at unit scale)."""

import json
import os

import pytest

from pyspark.sql import functions as F

from owl_etl_spark.operators.dedup import (
    incremental_lsh_pairs,
    minhash_band_signatures,
    minhash_lsh_pairs,
)
from owl_etl_spark.operators.stores import StoreCatalog, sf_tag


@pytest.fixture()
def cat(tmp_path):
    return StoreCatalog(str(tmp_path / "catalog"))


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        (F.col("id") % 7).alias("band"),
        (F.col("id") * 31 % 1000).alias("sig"),
        F.col("id").alias("doc_id"),
    )


def test_manifest_contract_and_watermark(spark, cat):
    m0 = cat.write_drop(_frame(spark, 0, 40), "sigs", ["band", "sig"], "m0")
    assert m0["clustering_keys"] == ["band", "sig"]
    assert m0["row_count"] == 40
    assert m0["last_drop_watermark"] == "m0"
    m1 = cat.write_drop(_frame(spark, 40, 100), "sigs", ["band", "sig"], "m1")
    assert [d["label"] for d in m1["drops"]] == ["m0", "m1"]
    assert [d["rows"] for d in m1["drops"]] == [40, 60]
    assert m1["row_count"] == 100
    assert cat.watermark("sigs") == "m1"
    assert cat.drops("sigs") == ["m0", "m1"]
    # the manifest on disk is the same object write_drop returned
    with open(os.path.join(cat.store_path("sigs"), "MANIFEST.json")) as fh:
        assert json.load(fh) == m1
    # folder-per-drop layout (the reference's folder-per-month shape)
    assert os.path.isdir(os.path.join(cat.store_path("sigs"), "data", "drop=m0"))
    assert os.path.isdir(os.path.join(cat.store_path("sigs"), "data", "drop=m1"))


def test_read_unions_drops_and_read_drop_isolates(spark, cat):
    cat.write_drop(_frame(spark, 0, 40), "sigs", ["band"], "m0")
    cat.write_drop(_frame(spark, 40, 100), "sigs", ["band"], "m1")
    whole = cat.read(spark, "sigs")
    assert whole.columns == ["band", "sig", "doc_id"]
    assert whole.count() == 100
    only1 = cat.read_drop(spark, "sigs", "m1")
    assert {r.doc_id for r in only1.select("doc_id").collect()} == set(range(40, 100))
    tagged = cat.read(spark, "sigs", with_drop=True)
    got = {
        (r["drop"], r.doc_id)
        for r in tagged.filter(F.col("doc_id").isin(0, 40)).collect()
    }
    assert got == {("m0", 0), ("m1", 40)}


def test_same_label_rewrite_replaces_only_that_drop(spark, cat):
    cat.write_drop(_frame(spark, 0, 40), "sigs", ["band"], "m0")
    cat.write_drop(_frame(spark, 40, 100), "sigs", ["band"], "m1")
    m = cat.write_drop(_frame(spark, 0, 10), "sigs", ["band"], "m0")
    assert m["row_count"] == 70
    assert [d["rows"] for d in m["drops"]] == [60, 10]  # m0 re-load appends last
    assert m["last_drop_watermark"] == "m0"
    assert cat.read(spark, "sigs").count() == 70


def test_pinning_refuses_drift(spark, cat):
    cat.write_drop(_frame(spark, 0, 10), "sigs", ["band", "sig"], "m0")
    with pytest.raises(ValueError, match="clustered on"):
        cat.write_drop(_frame(spark, 10, 20), "sigs", ["band"], "m1")
    with pytest.raises(ValueError, match="schema drift"):
        cat.write_drop(
            _frame(spark, 10, 20).withColumn("extra", F.lit(1)),
            "sigs",
            ["band", "sig"],
            "m1",
        )
    with pytest.raises(ValueError, match="drop"):
        cat.write_drop(
            _frame(spark, 0, 5).withColumnRenamed("doc_id", "drop"),
            "other",
            ["band"],
            "m0",
        )
    with pytest.raises(ValueError, match="invalid drop label"):
        cat.write_drop(_frame(spark, 0, 5), "sigs2", ["band"], "bad label!")
    with pytest.raises(ValueError, match="invalid store name"):
        cat.store_path("../escape")


def test_reset_and_missing_store(spark, cat):
    cat.write_drop(_frame(spark, 0, 10), "sigs", ["band"], "m0")
    cat.reset("sigs")
    assert not cat.exists("sigs")
    assert cat.watermark("sigs") is None
    with pytest.raises(FileNotFoundError):
        cat.read(spark, "sigs")


def test_sf_tag_distinguishes_roots():
    a, b = sf_tag("/root/testdata/sf0.001"), sf_tag("/root/testdata/sf0.01")
    assert a != b
    assert all(c.isalnum() or c in "._-" for c in a)


def _corpus(spark, n=180, dup_every=6):
    body = (
        "array_join(transform(sequence(1, 12), "
        "i -> concat('tok', pmod(xxhash64(id * 31 + i), 400))), ' ')"
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % dup_every == 0,
            F.concat(
                F.lit("shared boilerplate text block number "),
                (F.col("id") % 3).cast("string"),
            ),
        )
        .otherwise(F.expr(body))
        .alias("text"),
    )


def test_two_drop_replay_through_catalog_equals_one_shot(spark, cat):
    """The q328 law at unit scale: successive drops signed alone,
    probed against the CATALOG store (read back from parquet, never
    the in-memory frames), appended after the probe — the union of
    incremental pair outputs equals the one-shot full-corpus LSH."""
    docs = _corpus(spark)
    one_shot = _pairs(minhash_lsh_pairs(docs, bands=8))
    inc = set()
    for k, label in enumerate(["m0", "m1", "m2"]):
        sigs = minhash_band_signatures(
            docs.filter(F.col("doc_id") % 3 == k), bands=8
        )
        store = cat.read(spark, "lsh") if cat.exists("lsh") else None
        inc |= _pairs(incremental_lsh_pairs(sigs, store))
        cat.write_drop(sigs, "lsh", ["band", "sig"], label)
    assert inc == one_shot
    assert one_shot, "corpus produced no candidate pairs — test is vacuous"
    assert cat.watermark("lsh") == "m2"


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_session_catalog_honors_env_root(spark, tmp_path, monkeypatch):
    """Deployment shape: OWL_ETL_STORE_ROOT points the process-wide
    catalog at a warehouse path. The singleton is reset around the
    test so the suite's own catalog state is untouched."""
    import owl_etl_spark.operators.stores as stores_mod

    root = str(tmp_path / "warehouse")
    monkeypatch.setenv("OWL_ETL_STORE_ROOT", root)
    monkeypatch.setattr(stores_mod, "_SESSION_CATALOG", None)
    cat1 = stores_mod.session_catalog()
    assert cat1.root == root
    cat1.write_drop(_frame(spark, 0, 10), "sigs", ["band"], "m0")
    # a second resolution returns the same catalog; the asset is there
    assert stores_mod.session_catalog() is cat1
    assert os.path.isdir(os.path.join(root, "sigs", "data", "drop=m0"))
    # monkeypatch restores _SESSION_CATALOG (and the env var) at teardown


def test_compact_drop_preserves_rows_and_clustering(spark, cat):
    import glob
    import os

    cat.write_drop(
        _frame(spark, 0, 2000), "sigs", ["band", "sig"], "m0", target_partitions=8
    )
    drop_dir = os.path.join(cat.store_path("sigs"), "data", "drop=m0")
    before = {tuple(r) for r in spark.read.parquet(drop_dir).collect()}
    assert len(glob.glob(f"{drop_dir}/*.parquet")) == 8
    n = cat.compact_drop(spark, "sigs", "m0")
    assert n == 1
    assert len(glob.glob(f"{drop_dir}/*.parquet")) == 1
    assert {tuple(r) for r in spark.read.parquet(drop_dir).collect()} == before
    # manifest accounting untouched; whole-store read still correct
    assert cat.manifest("sigs")["row_count"] == 2000
    assert cat.read(spark, "sigs").count() == 2000
    # the rewritten file is still sorted on the clustering keys — the
    # property a plain coalesce would have destroyed
    rows = spark.read.parquet(drop_dir).select("band", "sig").collect()
    assert [(r.band, r.sig) for r in rows] == sorted((r.band, r.sig) for r in rows)


# ---------------------------------------------------------------------------
# round-11: crash-window idempotence laws (VERDICT r10 Next-round #6)
# ---------------------------------------------------------------------------


def _store_state(spark, cat, name):
    """Logical store state: manifest dict + frozenset of rows per drop.
    (Row-level, not file-byte-level: parquet bytes legitimately differ
    across runs via write timestamps/task ids; the replayable state a
    downstream probe sees is rows + manifest.)"""
    man = cat.manifest(name)
    per_drop = {
        d["label"]: frozenset(
            map(tuple, cat.read_drop(spark, name, d["label"]).collect())
        )
        for d in man["drops"]
    }
    return man, per_drop


def test_crash_window_post_data_pre_manifest_rerun_is_idempotent(spark, cat, tmp_path):
    """Kill/rerun a drop load midway — data committed, manifest not
    yet written (the exact window between write_sorted_parquet and
    _write_manifest inside write_drop). Re-running write_drop for the
    same label must leave the store identical to a never-crashed run:
    the data rewrite is a whole-directory overwrite and the manifest
    append is label-idempotent, so the crash is invisible."""
    from owl_etl_spark.sources.writers import write_sorted_parquet

    # the never-crashed twin
    clean = StoreCatalog(str(tmp_path / "clean"))
    clean.write_drop(_frame(spark, 0, 40), "sigs", ["band", "sig"], "m0")
    clean.write_drop(_frame(spark, 40, 100), "sigs", ["band", "sig"], "m1")

    # the crashed run: m0 lands fine; m1's DATA lands (exactly what
    # write_drop writes: same clustering, same directory) but the
    # process dies before the manifest append
    cat.write_drop(_frame(spark, 0, 40), "sigs", ["band", "sig"], "m0")
    drop_dir = os.path.join(cat.store_path("sigs"), "data", "drop=m1")
    write_sorted_parquet(_frame(spark, 40, 100), drop_dir, ["band", "sig"])
    man = cat.manifest("sigs")
    assert man["last_drop_watermark"] == "m0"  # the crash window state
    assert [d["label"] for d in man["drops"]] == ["m0"]

    # recovery = the scheduler simply re-runs the load for m1
    cat.write_drop(_frame(spark, 40, 100), "sigs", ["band", "sig"], "m1")

    got_man, got_rows = _store_state(spark, cat, "sigs")
    want_man, want_rows = _store_state(spark, clean, "sigs")
    assert got_man == want_man
    assert got_rows == want_rows


def test_crash_window_partial_garbage_data_is_replaced(spark, cat, tmp_path):
    """Harsher crash: the drop directory holds PARTIAL garbage — a
    stray parquet of wrong rows and a Spark _temporary dir from a
    half-committed attempt. write_drop's overwrite replaces the whole
    directory, so the rerun still converges to the clean state."""
    clean = StoreCatalog(str(tmp_path / "clean"))
    clean.write_drop(_frame(spark, 0, 40), "sigs", ["band", "sig"], "m0")
    clean.write_drop(_frame(spark, 40, 100), "sigs", ["band", "sig"], "m1")

    cat.write_drop(_frame(spark, 0, 40), "sigs", ["band", "sig"], "m0")
    drop_dir = os.path.join(cat.store_path("sigs"), "data", "drop=m1")
    # garbage: WRONG rows (a torn subset) + an uncommitted temp dir
    _frame(spark, 40, 50).write.parquet(drop_dir)
    os.makedirs(os.path.join(drop_dir, "_temporary", "0"), exist_ok=True)

    cat.write_drop(_frame(spark, 40, 100), "sigs", ["band", "sig"], "m1")

    got_man, got_rows = _store_state(spark, cat, "sigs")
    want_man, want_rows = _store_state(spark, clean, "sigs")
    assert got_man == want_man
    assert got_rows == want_rows
    assert not os.path.exists(os.path.join(drop_dir, "_temporary"))


def test_crash_window_manifest_tmp_leftover_is_harmless(spark, cat):
    """Crash INSIDE the manifest write (tmp file exists, rename never
    ran): the live manifest is still the previous consistent state,
    and the next write_drop replaces the tmp on its way through."""
    cat.write_drop(_frame(spark, 0, 40), "sigs", ["band", "sig"], "m0")
    tmp = os.path.join(cat.store_path("sigs"), "MANIFEST.json.tmp")
    with open(tmp, "w") as fh:
        fh.write('{"torn": true')  # torn half-write, not even valid JSON
    assert cat.manifest("sigs")["last_drop_watermark"] == "m0"  # unaffected
    cat.write_drop(_frame(spark, 40, 100), "sigs", ["band", "sig"], "m1")
    assert cat.manifest("sigs")["last_drop_watermark"] == "m1"
    assert not os.path.exists(tmp)


def test_compact_crash_between_renames_reads_fallback_then_repairs(spark, cat):
    """compact_drop killed between `drop -> old` and `tmp -> drop`
    (the window where the ORIGINAL swap lost the month): the old
    directory holds the authoritative data. A plain read stays
    READ-ONLY (round 12 — a reader racing a live maintainer must not
    rename its in-flight directories) and serves the rows from the
    __compact_old fallback; explicit repair() (or the next maintenance
    call) then materializes the rollback."""
    cat.write_drop(_frame(spark, 0, 500), "sigs", ["band", "sig"], "m0", target_partitions=4)
    cat.write_drop(_frame(spark, 500, 600), "sigs", ["band", "sig"], "m1")
    want = {tuple(r) for r in cat.read(spark, "sigs").collect()}
    drop_dir = os.path.join(cat.store_path("sigs"), "data", "drop=m0")
    # simulate: tmp written, first rename done, killed before the second
    from owl_etl_spark.sources.writers import write_sorted_parquet

    write_sorted_parquet(
        spark.read.parquet(drop_dir), drop_dir + "__compact_tmp", ["band", "sig"], 1
    )
    os.rename(drop_dir, drop_dir + "__compact_old")
    assert not os.path.exists(drop_dir)  # the crash state
    # a plain read sees every row WITHOUT touching the crash leftovers
    assert {tuple(r) for r in cat.read(spark, "sigs").collect()} == want
    assert {r.doc_id for r in cat.read_drop(spark, "sigs", "m0").collect()} == set(range(500))
    assert not os.path.exists(drop_dir)  # read repaired nothing
    assert os.path.isdir(drop_dir + "__compact_old")
    # explicit repair rolls back under the maintenance lease
    cat.repair("sigs")
    assert os.path.isdir(drop_dir)
    assert not os.path.exists(drop_dir + "__compact_old")
    assert not os.path.exists(drop_dir + "__compact_tmp")
    # and the compaction can simply be re-run to completion
    assert cat.compact_drop(spark, "sigs", "m0") == 1
    assert {tuple(r) for r in cat.read(spark, "sigs").collect()} == want


def test_compact_crash_before_cleanup_read_ignores_old_copy(spark, cat):
    """compact_drop killed after the swap, before deleting the old
    copy: the compacted directory is live. The manifest-driven read
    serves only the live directory (never double-counts the stale
    copy) and leaves it in place; the next maintenance pass rolls
    forward and reclaims it."""
    cat.write_drop(_frame(spark, 0, 500), "sigs", ["band", "sig"], "m0", target_partitions=4)
    want = {tuple(r) for r in cat.read(spark, "sigs").collect()}
    drop_dir = os.path.join(cat.store_path("sigs"), "data", "drop=m0")
    import shutil as _sh

    _sh.copytree(drop_dir, drop_dir + "__compact_old")  # the crash state
    assert {tuple(r) for r in cat.read(spark, "sigs").collect()} == want
    assert os.path.isdir(drop_dir + "__compact_old")  # read is read-only
    cat.write_drop(_frame(spark, 500, 600), "sigs", ["band", "sig"], "m1")
    assert not os.path.exists(drop_dir + "__compact_old")  # maintenance repaired


def test_compact_crash_tmp_only_is_ignored_by_reads(spark, cat):
    """compact_drop killed during the tmp rewrite: the drop is
    untouched; the uncommitted tmp is invisible to the manifest-driven
    whole-store read (it is not a manifest drop) and is discarded by
    the next maintenance pass."""
    cat.write_drop(_frame(spark, 0, 200), "sigs", ["band", "sig"], "m0")
    want = {tuple(r) for r in cat.read(spark, "sigs").collect()}
    drop_dir = os.path.join(cat.store_path("sigs"), "data", "drop=m0")
    _frame(spark, 0, 37).write.parquet(drop_dir + "__compact_tmp")
    assert {tuple(r) for r in cat.read(spark, "sigs").collect()} == want
    assert os.path.isdir(drop_dir + "__compact_tmp")  # read left it alone
    cat.repair("sigs")
    assert not os.path.exists(drop_dir + "__compact_tmp")


# ---------------------------------------------------------------------------
# round-12: advisory maintenance lease (VERDICT r11 Next-round #4) +
# read-only reader guarantees + strict-cleanup surfacing
# ---------------------------------------------------------------------------


def test_two_interleaved_maintainers_second_raises(spark, cat, tmp_path):
    """The multi-maintainer law: while maintainer A holds the lease
    (mid-compaction), maintainer B's write_drop/compact_drop/repair
    raise StoreLeaseHeld instead of 'recovering' A's in-flight swap
    directories; after A releases, B proceeds."""
    from owl_etl_spark.operators.stores import StoreCatalog, StoreLeaseHeld

    cat.write_drop(_frame(spark, 0, 40), "sigs", ["band"], "m0")
    other = StoreCatalog(cat.root)  # second maintainer, same store root
    with cat._maintenance_lease("sigs"):
        with pytest.raises(StoreLeaseHeld, match="under maintenance"):
            other.write_drop(_frame(spark, 40, 80), "sigs", ["band"], "m1")
        with pytest.raises(StoreLeaseHeld, match="under maintenance"):
            other.compact_drop(spark, "sigs", "m0")
        with pytest.raises(StoreLeaseHeld, match="under maintenance"):
            other.repair("sigs")
        # the blocked maintainer changed nothing
        assert cat.drops("sigs") == ["m0"]
    # lease released: the same calls now succeed
    other.write_drop(_frame(spark, 40, 80), "sigs", ["band"], "m1")
    assert cat.drops("sigs") == ["m0", "m1"]
    assert cat.read(spark, "sigs").count() == 80


def test_stale_lease_is_taken_over(spark, cat):
    """A lease whose age exceeds its TTL belongs to a dead maintainer:
    the next maintenance call takes it over (and then repairs whatever
    the dead maintainer left mid-swap) instead of deadlocking the
    store forever."""
    import json as _json
    import os as _os
    import time as _time

    cat.write_drop(_frame(spark, 0, 40), "sigs", ["band"], "m0")
    lease = cat._lease_path("sigs")
    with open(lease, "w") as fh:
        _json.dump(
            {"token": "dead-maintainer", "pid": 999999, "host": "gone",
             "acquired_unix": _time.time() - 7200, "ttl_s": 3600}, fh
        )
    cat.write_drop(_frame(spark, 40, 80), "sigs", ["band"], "m1")  # takeover
    assert cat.drops("sigs") == ["m0", "m1"]
    assert not _os.path.exists(lease)  # released after the maintenance


def test_torn_lease_file_is_treated_as_stale(spark, cat):
    """A lease file holding a torn half-write (the writer died inside
    its own acquire) must not brick the store: unparseable == stale."""
    cat.write_drop(_frame(spark, 0, 10), "sigs", ["band"], "m0")
    with open(cat._lease_path("sigs"), "w") as fh:
        fh.write('{"token": "torn')
    cat.write_drop(_frame(spark, 10, 20), "sigs", ["band"], "m1")
    assert cat.read(spark, "sigs").count() == 20


def test_lease_released_even_on_maintenance_failure(spark, cat):
    """A maintenance call that raises (here: schema drift) must not
    leave the lease behind — the next maintainer would wait a full TTL
    for a store nobody is touching."""
    import os as _os

    cat.write_drop(_frame(spark, 0, 10), "sigs", ["band", "sig"], "m0")
    with pytest.raises(ValueError, match="schema drift"):
        cat.write_drop(
            _frame(spark, 0, 5).withColumn("extra", F.lit(1)),
            "sigs", ["band", "sig"], "m1",
        )
    assert not _os.path.exists(cat._lease_path("sigs"))
    cat.write_drop(_frame(spark, 10, 20), "sigs", ["band", "sig"], "m1")  # not blocked


def test_reads_need_no_lease(spark, cat):
    """Catalog reads are lease-free: they must work while a maintainer
    holds the lease (they are read-only, so there is nothing to
    coordinate)."""
    cat.write_drop(_frame(spark, 0, 40), "sigs", ["band"], "m0")
    with cat._maintenance_lease("sigs"):
        assert cat.read(spark, "sigs").count() == 40
        assert cat.read_drop(spark, "sigs", "m0").count() == 40
        assert cat.watermark("sigs") == "m0"


def test_remote_catalog_roots_are_rejected():
    """The crash-safe swap and the O_EXCL lease are single-filesystem
    POSIX constructs; an object-store URI would silently lose both."""
    from owl_etl_spark.operators.stores import StoreCatalog

    for bad in ("s3a://bucket/warehouse", "hdfs://nn:8020/stores", "file://x/y"):
        with pytest.raises(ValueError, match="local filesystem path"):
            StoreCatalog(bad)


def test_failed_cleanup_surfaces_instead_of_lingering(spark, cat, monkeypatch):
    """A partially failed delete of a __compact_old leftover must
    raise, not linger (a surviving directory would keep tripping
    maintenance passes and, pre-round-12, double-counted rows). The
    failure is simulated by a no-op rmtree."""
    import shutil as _sh

    cat.write_drop(_frame(spark, 0, 50), "sigs", ["band"], "m0")
    drop_dir = os.path.join(cat.store_path("sigs"), "data", "drop=m0")
    _sh.copytree(drop_dir, drop_dir + "__compact_old")
    import owl_etl_spark.operators.stores as stores_mod

    monkeypatch.setattr(stores_mod.shutil, "rmtree", lambda *a, **k: None)
    with pytest.raises(RuntimeError, match="failed to remove"):
        cat.repair("sigs")
    monkeypatch.undo()
    cat.repair("sigs")  # real rmtree: repair completes
    assert not os.path.exists(drop_dir + "__compact_old")


def test_reserved_compaction_suffix_labels_are_refused(spark, cat):
    """A drop label ending in the reserved __compact_tmp/__compact_old
    suffixes would be indistinguishable from a mid-swap crash leftover
    — recovery would rename or delete the legitimate drop. Refused at
    write time."""
    cat.write_drop(_frame(spark, 0, 10), "sigs", ["band"], "m0")
    for bad in ("m0__compact_old", "m1__compact_tmp"):
        with pytest.raises(ValueError, match="reserved compaction suffix"):
            cat.write_drop(_frame(spark, 0, 10), "sigs", ["band"], bad)
    # the legitimate store is untouched
    assert cat.drops("sigs") == ["m0"]
    assert cat.read(spark, "sigs").count() == 10


def test_footer_rowcount_matches_spark_count(spark, cat):
    """Round 13: manifest row counts come from driver-side parquet
    footer reads (no Spark job per drop). The footers must agree with
    what a Spark read of the same directory counts — same metadata,
    different reader."""
    from owl_etl_spark.operators.stores import _dir_parquet_rows

    cat.write_drop(_frame(spark, 0, 123), "sigs", ["band", "sig"], "m0")
    drop_dir = os.path.join(cat.store_path("sigs"), "data", "drop=m0")
    assert _dir_parquet_rows(drop_dir) == 123
    assert spark.read.parquet(drop_dir).count() == 123
    assert cat.manifest("sigs")["row_count"] == 123
