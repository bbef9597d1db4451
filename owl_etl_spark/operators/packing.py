"""Sequence packing for training-data pipelines: fit documents into
fixed-capacity context windows.

Two packing disciplines ship:

* **Concat-and-split** (GPT-style) — documents concatenated in key
  order and cut at exact capacity boundaries; docs may span bins, no
  padding except each shard's final bin. Pure window arithmetic
  (running token offset ``div`` capacity) — q83 gates it; nothing in
  this module is needed for it.
* **Greedy doc-boundary packing** (:func:`greedy_pack`, this module) —
  documents are never split: walk each shard in key order keeping a
  running fill, and start a new bin when the next document would
  overflow. The discipline used when examples must not cross document
  boundaries (instruction tuning, contrastive pairs, eval sets); it
  trades padding for boundary integrity, and
  :func:`packing_efficiency` reports exactly how much.

The greedy fill is a sequential recurrence (the bin index depends on
every previous document's length through a RESETTING accumulator, so
no window function expresses it). It runs as an Arrow-batched
``applyInPandas`` per shard — a DECLARED Python compute boundary in
the DTW / NW-SW mold (operators/dtw.py), but unlike those it stays
fully oracle-able: DuckDB replays the identical recurrence as a
recursive CTE, so the gate hash-matches every doc's bin assignment.

Scale notes (100 TB): packing is only ever defined WITHIN a shard —
a global document order is meaningless across a growing corpus, and
any real packed-dataset writer shards first. Shards are independent
(one task each, embarrassingly parallel); per-task state is two
scalars + one shard's (id, length) rows, so pick ``shards`` so a
shard's row count fits a task (lengths only — payloads are not
carried through the packer; join the assignment back to content at
write time). The recurrence itself is a numpy-backed linear walk —
millions of rows per shard per second.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def greedy_pack(
    df: DataFrame,
    capacity: int = 2048,
    shards: int = 32,
) -> DataFrame:
    """(shard, id, length, bin) — greedy doc-boundary packing.

    Documents are walked in ``doc_id`` order within each shard
    (``shard = id % shards``, oracle-portable); a document starts a
    new bin iff the current bin is non-empty and would overflow.
    A document longer than ``capacity`` occupies a bin alone
    (``is_oversize`` flags it for the caller's truncate/split policy
    — silently splitting here would violate the discipline's whole
    point). Deterministic: assignment is a pure function of the
    (id, length) sequence.
    """
    import numpy as np
    import pandas as pd

    if capacity < 1:
        raise ValueError(f"capacity must be positive, got {capacity}")
    if shards < 1:
        raise ValueError(f"shards must be positive, got {shards}")

    out_schema = (
        "shard int, doc_id bigint, n_tokens bigint, "
        "bin bigint, is_oversize boolean"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        lens = pdf["n_tokens"].to_numpy(dtype=np.int64)
        bins = np.empty(lens.size, dtype=np.int64)
        b = 0
        fill = 0
        for i in range(lens.size):
            n = int(lens[i])
            if fill > 0 and fill + n > capacity:
                b += 1
                fill = n
            else:
                fill += n
            bins[i] = b
        return pd.DataFrame(
            {
                "shard": pdf["shard"].to_numpy(),
                "doc_id": pdf["doc_id"].to_numpy(),
                "n_tokens": lens,
                "bin": bins,
                "is_oversize": lens > capacity,
            }
        )

    shard_col = F.pmod(F.col("doc_id"), F.lit(shards)).cast("int")
    base = df.select(
        shard_col.alias("shard"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    return base.groupBy("shard").applyInPandas(fn, schema=out_schema)


def packing_efficiency(
    assignment: DataFrame,
    capacity: int = 2048,
) -> DataFrame:
    """Per-shard packing report over a :func:`greedy_pack` assignment:
    documents, tokens, bins used, the information-theoretic lower
    bound ``ceil(tokens/capacity)``, oversize count, and padding as
    parts-per-million of the allocated budget — the number that tells
    a pipeline owner what doc-boundary integrity costs vs
    concat-and-split's zero padding. Pure aggregation (one shuffle on
    shard); exact integers end-to-end."""
    per_bin_budget = F.lit(int(capacity))
    agg = assignment.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.max("bin") + 1).cast("long").alias("bins_used"),
        F.sum(F.when(F.col("is_oversize"), 1).otherwise(0))
        .cast("long")
        .alias("n_oversize"),
    )
    # oversize docs blow their own bin past capacity; budget counts
    # the ACTUAL allocation: max(capacity, doc) per oversize bin.
    over = assignment.filter(F.col("is_oversize")).groupBy("shard").agg(
        F.sum(F.col("n_tokens") - per_bin_budget).cast("long").alias("__over_extra")
    )
    joined = agg.join(over, "shard", "left").withColumn(
        "__budget",
        F.col("bins_used") * per_bin_budget
        + F.coalesce(F.col("__over_extra"), F.lit(0)),
    )
    return joined.select(
        "shard",
        "n_docs",
        "total_tokens",
        "bins_used",
        # exact-integer ceil — no float division in the oracle path
        F.expr(f"(total_tokens + {int(capacity) - 1}) div {int(capacity)}")
        .cast("long")
        .alias("lower_bound"),
        "n_oversize",
        F.round(
            (F.col("__budget") - F.col("total_tokens"))
            / F.col("__budget")
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("padding_ppm"),
    )
