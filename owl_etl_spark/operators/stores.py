"""Durable catalog for the engine's incremental stores.

The incremental trilogy (q296's LSH signature store, q303's IVF index,
q311's component labels, q324's fingerprint store) proved the
monthly-drop laws against per-query temp directories; this module is
the production shape those laws run against: **named, persisted,
schema'd assets** that successive drops reuse, mirroring the
reference's folder-per-month staging contract (reference:
src/etl/load.py:56-62 — one folder per arriving month, history never
rewritten).

Layout — one directory per named store under a catalog root::

    <root>/<name>/
        MANIFEST.json          clustering keys, schema, per-drop rows,
                               total rows, last-drop watermark
        LEASE.json             advisory maintenance lease (only while
                               a maintainer is active)
        data/drop=<label>/     parquet, range-clustered on the keys

Contract:

* **A drop is the unit of arrival.** ``write_drop`` writes exactly one
  ``drop=<label>`` partition; re-writing the same label is an
  idempotent replace (the reference's per-month reload semantics);
  other drops are never touched. At 100 TB this is what makes the
  monthly load O(drop), not O(corpus).
* **Range-clustered within each drop** on the store's clustering keys
  (``write_sorted_parquet``), so parquet min/max statistics keep probe
  joins pruning to the few files a key range touches even as drops
  accumulate — the (band, sig) store probe reads ~1 file per band per
  drop, not the store.
* **The manifest is the operational record**: clustering keys (probe
  joins must match them), the schema, per-drop and total row counts,
  and ``last_drop_watermark`` — the label of the newest drop, which a
  scheduler compares against the arrival feed to decide what to load
  next. Written atomically (tmp + rename) so a crashed load never
  leaves a half-manifest. Reads resolve drop directories THROUGH the
  manifest, so stray sibling directories (crash leftovers, foreign
  files) can never inflate a read.
* **Schema and clustering are pinned at creation**: a drop whose
  schema or keys disagree with the manifest is refused loudly rather
  than silently forked.
* **Maintenance vs reads** (round 12): all MAINTENANCE entry points
  (``write_drop`` / ``compact_drop`` / ``repair``) take a best-effort
  advisory lease (``LEASE.json`` under the store directory, stale-
  lease takeover after its TTL) so a second concurrent maintainer
  fails loudly instead of having its mid-swap directories "recovered"
  out from under it. READS are lease-free and strictly read-only:
  they never delete or rename anything, and they stay correct during
  a live compaction or after a crash by falling back to the
  ``__compact_old`` directory when a drop directory is mid-swap (the
  old copy is, by construction, either identical to or the
  authoritative predecessor of the compacted one). Crash leftovers
  are repaired only under the lease — by the next maintenance call or
  an explicit :meth:`StoreCatalog.repair`.

Locality: the catalog root must be a **local, single-filesystem
path** — the crash-safe swap relies on same-filesystem ``os.rename``
atomicity and the lease on ``O_CREAT|O_EXCL``, neither of which holds
on object stores. Obviously-remote URIs (``s3a://``, ``hdfs://``,
…) are rejected at construction; mount network storage as a POSIX
filesystem if the store must be shared.

Hermeticity: gated queries root their catalog at
:func:`session_catalog` — ``$OWL_ETL_STORE_ROOT`` if set (a local
warehouse directory), else one per-process temp root created lazily
and removed at exit, so stores survive across queries within a run
but never leak state between runs or scale factors (store names carry
an sf tag for the latter).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import socket
import tempfile
import time
import uuid
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from owl_etl_spark.sources.writers import write_sorted_parquet

_LABEL_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")

#: reserved partition-directory column; store frames must not carry it
DROP_COL = "drop"

#: advisory maintenance-lease file, per store directory
LEASE_FILE = "LEASE.json"

#: default lease TTL — generous enough for the largest single-drop
#: compaction; a maintainer that dies mid-run is taken over after this
DEFAULT_LEASE_TTL_S = 3600.0


class StoreLeaseHeld(RuntimeError):
    """A second maintainer tried to run while the advisory lease is
    live. Loud by design: recovery under a shared store would rename
    or delete the first maintainer's in-flight swap directories."""


def _dir_parquet_rows(path: str) -> int:
    """Row count of a parquet directory from the file FOOTERS, read
    driver-side (pyarrow). The catalog root is contractually a local
    single-filesystem path (see :class:`StoreCatalog`), so this is the
    same metadata-only count ``spark.read.parquet(dir).count()``
    computes — minus an entire Spark job (driver round-trip, task
    scheduling, executor-side footer fetch) per maintenance call.
    Round 13 (guide §5 driver work / §1.2): q324 pays this twice and
    q358 twenty-four times per run; the footer bytes are the cost
    either way, the job orchestration was pure overhead."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(e.path).metadata.num_rows
        for e in os.scandir(path)
        if e.name.endswith(".parquet")
    )


def _rmtree_checked(path: str) -> None:
    """Remove a directory tree and VERIFY it is gone. A partially
    failed delete (EACCES, lingering handles on a network mount) must
    surface instead of leaving a directory that later maintenance
    passes would keep tripping over — silent leftovers were the bug
    class behind double-counted ``__compact_old`` partitions."""
    shutil.rmtree(path, ignore_errors=True)
    if os.path.lexists(path):
        raise RuntimeError(
            f"failed to remove {path!r} (permissions? open handles?); "
            "refusing to continue with a stale directory on disk — fix "
            "the filesystem issue and re-run repair()"
        )


class StoreCatalog:
    """A root directory owning any number of named incremental stores."""

    def __init__(self, root: str, lease_ttl_s: float = DEFAULT_LEASE_TTL_S):
        if "://" in root:
            raise ValueError(
                f"StoreCatalog root must be a local filesystem path, got "
                f"{root!r}: the crash-safe swap needs same-filesystem "
                "rename atomicity and the lease needs O_EXCL create — "
                "mount remote storage as a POSIX path instead"
            )
        self.root = root
        self.lease_ttl_s = lease_ttl_s
        os.makedirs(root, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def store_path(self, name: str) -> str:
        if not _LABEL_RE.match(name):
            raise ValueError(f"invalid store name {name!r}")
        return os.path.join(self.root, name)

    def _data_path(self, name: str) -> str:
        return os.path.join(self.store_path(name), "data")

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.store_path(name), "MANIFEST.json")

    def _drop_dir(self, name: str, drop_label: str) -> str:
        return os.path.join(self._data_path(name), f"{DROP_COL}={drop_label}")

    # -- advisory maintenance lease --------------------------------------
    def _lease_path(self, name: str) -> str:
        return os.path.join(self.store_path(name), LEASE_FILE)

    @contextmanager
    def _maintenance_lease(self, name: str):
        """Best-effort advisory single-maintainer lock for one store:
        ``O_CREAT|O_EXCL`` on ``LEASE.json``; a live foreign lease
        raises :class:`StoreLeaseHeld`; a lease older than its TTL is
        taken over (the holder is presumed dead — its crash leftovers
        are exactly what the subsequent recovery pass repairs). The
        takeover is verified by re-reading the file, so two racing
        takeovers cannot both win."""
        os.makedirs(self.store_path(name), exist_ok=True)
        path = self._lease_path(name)
        token = f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex}"
        payload = json.dumps(
            {
                "token": token,
                "pid": os.getpid(),
                "host": socket.gethostname(),
                "acquired_unix": time.time(),
                "ttl_s": self.lease_ttl_s,
            },
            indent=2,
            sort_keys=True,
        )
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                fh.write(payload)
        except FileExistsError:
            try:
                with open(path) as fh:
                    holder = json.load(fh)
            except (OSError, ValueError):
                holder = {}  # torn lease write: treat as stale
            age = time.time() - float(holder.get("acquired_unix", 0.0))
            if age <= float(holder.get("ttl_s", self.lease_ttl_s)):
                raise StoreLeaseHeld(
                    f"store {name!r} is under maintenance by "
                    f"{holder.get('host')}:{holder.get('pid')} "
                    f"(lease age {age:.0f}s of {holder.get('ttl_s')}s); "
                    "a second concurrent maintainer would corrupt its "
                    "in-flight swap — wait for the lease or its TTL"
                ) from None
            # stale: take over atomically, then verify we won the race
            tmp = f"{path}.takeover.{os.getpid()}.{token[-8:]}"
            with open(tmp, "w") as fh:
                fh.write(payload)
            os.replace(tmp, path)
            with open(path) as fh:
                if json.load(fh).get("token") != token:
                    raise StoreLeaseHeld(
                        f"lost the stale-lease takeover race for store {name!r}"
                    ) from None
        try:
            yield
        finally:
            try:
                with open(path) as fh:
                    current = json.load(fh)
                if current.get("token") == token:
                    os.remove(path)
            except (OSError, ValueError):
                pass  # lease already gone or taken over — nothing to release

    # -- manifest --------------------------------------------------------
    def exists(self, name: str) -> bool:
        return os.path.exists(self._manifest_path(name))

    def manifest(self, name: str) -> dict:
        with open(self._manifest_path(name)) as fh:
            return json.load(fh)

    def _write_manifest(self, name: str, manifest: dict) -> None:
        path = self._manifest_path(name)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2, sort_keys=True)
        os.replace(tmp, path)

    def drops(self, name: str) -> list[str]:
        """Drop labels in arrival (write) order."""
        return [d["label"] for d in self.manifest(name)["drops"]]

    def watermark(self, name: str) -> str | None:
        """Label of the newest loaded drop, or None for an empty store."""
        return self.manifest(name)["last_drop_watermark"] if self.exists(name) else None

    def reset(self, name: str) -> None:
        """Delete a store entirely (data + manifest). Used by replay
        tests and by backfills that rebuild a store from scratch.
        Maintenance: takes the lease, so a reset cannot yank a store
        out from under a live maintainer (the deletion removes the
        lease file with the store; release tolerates that)."""
        with self._maintenance_lease(name):
            _rmtree_checked(self.store_path(name))

    # -- write -----------------------------------------------------------
    def write_drop(
        self,
        df: DataFrame,
        name: str,
        clustering_keys: list[str],
        drop_label: str,
        target_partitions: int | None = None,
    ) -> dict:
        """Load one arriving drop into ``name`` and return the updated
        manifest. Idempotent per label (same-label rewrite replaces
        that drop only); refuses schema or clustering-key drift. Takes
        the store's maintenance lease for the duration."""
        if not _LABEL_RE.match(drop_label):
            raise ValueError(f"invalid drop label {drop_label!r}")
        if drop_label.endswith(("__compact_tmp", "__compact_old")):
            raise ValueError(
                f"drop label {drop_label!r} ends with a reserved compaction "
                "suffix — crash recovery would treat the drop as a mid-swap "
                "leftover and rename or delete it"
            )
        if DROP_COL in df.columns:
            raise ValueError(
                f"store frames must not carry a {DROP_COL!r} column; "
                "it is the catalog's partition directory"
            )
        missing = [k for k in clustering_keys if k not in df.columns]
        if missing:
            raise ValueError(f"clustering keys {missing} not in frame columns {df.columns}")

        schema_str = df.schema.simpleString()
        with self._maintenance_lease(name):
            # manifest read + drift validation INSIDE the lease: read
            # before acquisition and another maintainer's just-released
            # update could be validated against (and then overwritten
            # from) a stale manifest object
            if self.exists(name):
                manifest = self.manifest(name)
                if manifest["clustering_keys"] != list(clustering_keys):
                    raise ValueError(
                        f"store {name!r} is clustered on {manifest['clustering_keys']}; "
                        f"refusing a drop clustered on {list(clustering_keys)}"
                    )
                if manifest["schema"] != schema_str:
                    raise ValueError(
                        f"store {name!r} schema drift: manifest has "
                        f"{manifest['schema']}, drop has {schema_str}"
                    )
            else:
                manifest = {
                    "name": name,
                    "clustering_keys": list(clustering_keys),
                    "schema": schema_str,
                    "drops": [],
                    "row_count": 0,
                    "last_drop_watermark": None,
                }
            self._recover_crashed_compactions(name)
            drop_dir = self._drop_dir(name, drop_label)
            write_sorted_parquet(df, drop_dir, list(clustering_keys), target_partitions)
            # metadata-only count of what actually landed (parquet
            # footers, read driver-side — not a Spark job)
            rows = _dir_parquet_rows(drop_dir)

            manifest["drops"] = [d for d in manifest["drops"] if d["label"] != drop_label]
            manifest["drops"].append({"label": drop_label, "rows": rows})
            manifest["row_count"] = sum(d["rows"] for d in manifest["drops"])
            manifest["last_drop_watermark"] = drop_label
            self._write_manifest(name, manifest)
        return manifest

    def compact_drop(
        self,
        spark: SparkSession,
        name: str,
        drop_label: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Monthly hygiene: rewrite one drop into
        ``ceil(bytes/target)`` files WITHOUT losing its range
        clustering (a plain coalesce would merge unsorted neighbors and destroy the min/max file
        pruning the store exists for). Read → re-cluster on the
        manifest's keys at the reduced partition count → crash-safe
        swap; row count re-verified against the manifest before the
        swap. Takes the maintenance lease. Returns the new file count.

        Crash safety (round 11 — the original delete-then-rename swap
        had a window where a kill left NEITHER directory and the next
        whole-store read silently missed the drop): the swap never
        destroys data before its replacement is live —

            write <drop>__compact_tmp        (crash: tmp garbage, drop intact)
            rename <drop>  -> <drop>__compact_old   (crash: old holds the data)
            rename tmp     -> <drop>                (crash: both exist)
            delete <drop>__compact_old

        Every MAINTENANCE entry point runs
        :meth:`_recover_crashed_compactions` first (under the lease),
        which rolls the store back/forward to a consistent state from
        any of those leftovers; lease-free READS instead resolve the
        authoritative directory per drop read-only (see
        :meth:`read`)."""
        import math

        with self._maintenance_lease(name):
            self._recover_crashed_compactions(name)
            manifest = self.manifest(name)
            keys = manifest["clustering_keys"]
            drop_dir = self._drop_dir(name, drop_label)
            expected = next(
                d["rows"] for d in manifest["drops"] if d["label"] == drop_label
            )
            total = sum(
                e.stat().st_size
                for e in os.scandir(drop_dir)
                if e.name.endswith(".parquet")
            )
            n = max(1, math.ceil(total / target_file_bytes))
            tmp = drop_dir.rstrip("/") + "__compact_tmp"
            write_sorted_parquet(spark.read.parquet(drop_dir), tmp, keys, n)
            # footer-count the rewrite driver-side (same metadata the
            # Spark count reads, without the per-compaction job)
            got = _dir_parquet_rows(tmp)
            if got != expected:
                shutil.rmtree(tmp, ignore_errors=True)
                raise RuntimeError(
                    f"compaction of {name}/{drop_label} produced {got} rows, "
                    f"manifest says {expected}; drop left untouched"
                )
            old = drop_dir.rstrip("/") + "__compact_old"
            os.rename(drop_dir, old)  # the data survives every crash point
            os.rename(tmp, drop_dir)
            _rmtree_checked(old)
        return n

    def repair(self, name: str) -> None:
        """Explicit crash-recovery entry point: take the maintenance
        lease and roll any mid-swap compaction leftovers back/forward.
        Reads never need this for correctness (they resolve around
        leftovers read-only); run it to reclaim disk after a crashed
        maintainer, or let the next ``write_drop``/``compact_drop``
        do the same thing implicitly."""
        with self._maintenance_lease(name):
            self._recover_crashed_compactions(name)

    def _recover_crashed_compactions(self, name: str) -> None:
        """Repair leftovers of a ``compact_drop`` killed mid-swap
        (MAINTENANCE-ONLY — the caller must hold the lease, which is
        what makes deleting/renaming these directories safe against a
        live maintainer's in-flight swap):

        - ``<drop>__compact_old`` with ``<drop>`` missing — killed
          between the two renames: roll BACK (the old directory is the
          authoritative data; the tmp rewrite is discarded).
        - ``<drop>__compact_old`` with ``<drop>`` present — killed
          after the swap, before cleanup: roll FORWARD (drop the old
          copy; the compacted directory is live and verified).
        - ``<drop>__compact_tmp`` — an uncommitted rewrite: discard.

        O(drops) directory listing, no data reads. Deletions are
        verified (:func:`_rmtree_checked`): a leftover that survives a
        failed delete surfaces loudly instead of lingering."""
        data = self._data_path(name)
        if not os.path.isdir(data):
            return
        for entry in sorted(os.listdir(data)):
            path = os.path.join(data, entry)
            if entry.endswith("__compact_old"):
                final = path[: -len("__compact_old")]
                if not os.path.exists(final):
                    os.rename(path, final)
                else:
                    _rmtree_checked(path)
            elif entry.endswith("__compact_tmp"):
                _rmtree_checked(path)

    # -- read ------------------------------------------------------------
    def _live_drop_dir(self, name: str, drop_label: str) -> str:
        """The authoritative directory for one drop, resolved
        READ-ONLY: the ``drop=<label>`` directory normally; its
        ``__compact_old`` sibling when a compaction crash (or a live
        compaction's between-renames instant) has the primary renamed
        away — the old copy is the pre-swap data, which is row-
        identical to the verified compacted rewrite."""
        drop_dir = self._drop_dir(name, drop_label)
        if os.path.isdir(drop_dir):
            return drop_dir
        old = drop_dir + "__compact_old"
        if os.path.isdir(old):
            return old
        raise FileNotFoundError(
            f"store {name!r} drop {drop_label!r}: neither {drop_dir!r} nor "
            "its __compact_old fallback exists — manifest/data divergence"
        )

    def read(self, spark: SparkSession, name: str, with_drop: bool = False) -> DataFrame:
        """The whole store (every drop unioned). ``with_drop=True``
        keeps the drop label as a string column — the partition-pruned
        handle for drop-scoped reprocessing.

        Strictly read-only and manifest-driven: the read serves
        exactly the manifest's drops (stray sibling directories —
        crash leftovers, foreign files — are ignored, never deleted),
        and a drop caught mid-swap is served from its
        ``__compact_old`` fallback. Safe to run concurrently with a
        maintainer; repair happens only under the maintenance lease."""
        if not self.exists(name):
            raise FileNotFoundError(f"store {name!r} does not exist under {self.root}")
        data = self._data_path(name)
        labels = self.drops(name)
        dirs = {label: self._live_drop_dir(name, label) for label in labels}
        fallbacks = {la: d for la, d in dirs.items() if d.endswith("__compact_old")}
        if not fallbacks:
            # fast path: one partition-discovered read over the
            # manifest's directories (basePath keeps the drop column)
            df = spark.read.option("basePath", data).parquet(*dirs.values())
            if with_drop:
                return df.withColumn(DROP_COL, F.col(DROP_COL).cast("string"))
            return df.drop(DROP_COL)
        parts = []
        for label, d in dirs.items():
            parts.append(
                spark.read.parquet(d).withColumn(DROP_COL, F.lit(label).cast("string"))
            )
        df = reduce(DataFrame.unionByName, parts)
        return df if with_drop else df.drop(DROP_COL)

    def read_drop(self, spark: SparkSession, name: str, drop_label: str) -> DataFrame:
        """One drop — a direct partition-directory read (no listing of
        the other drops at all). Read-only; mid-swap drops fall back
        to their ``__compact_old`` copy like :meth:`read`."""
        return spark.read.parquet(self._live_drop_dir(name, drop_label))


# ---------------------------------------------------------------------------
# per-process default catalog (hermetic stand-in for a warehouse root)
# ---------------------------------------------------------------------------

_SESSION_CATALOG: StoreCatalog | None = None


def session_catalog() -> StoreCatalog:
    """The process-wide catalog gated queries share: rooted at
    ``$OWL_ETL_STORE_ROOT`` when a deployment sets one (a LOCAL
    single-filesystem directory — remote URIs are rejected, see the
    module docstring), else a lazily created per-process temp root
    removed at interpreter exit. Stores written by one query are
    readable by later queries in the same run; nothing leaks between
    runs."""
    global _SESSION_CATALOG
    if _SESSION_CATALOG is None:
        root = os.environ.get("OWL_ETL_STORE_ROOT")
        if root:
            _SESSION_CATALOG = StoreCatalog(root)
        else:
            import atexit

            tmp = tempfile.mkdtemp(prefix="owl_etl_stores_")
            atexit.register(shutil.rmtree, tmp, True)
            _SESSION_CATALOG = StoreCatalog(tmp)
    return _SESSION_CATALOG


def sf_tag(sf_dir: str) -> str:
    """Store-name suffix isolating scale factors (and any other input
    root) from each other inside one process-wide catalog."""
    return re.sub(r"[^A-Za-z0-9._-]", "_", os.path.abspath(sf_dir)).strip("_")
