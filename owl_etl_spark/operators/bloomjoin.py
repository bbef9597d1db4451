"""Portable Bloom-filter semi-join pruning: build a bounded bitmap
over one join side's keys, prune the other side with a ZERO-SHUFFLE
map expression before the join ever runs.

Why an engine ships this explicitly (besides Spark's own runtime
bloom, which AQE injects non-deterministically and only within one
query): at 100 TB the dominant join cost is shuffling probe-side rows
that can never match. A bitmap built once from the small/filtered
side — kilobytes, independent of key cardinality beyond the chosen
``n_bits`` — travels to every executor as a LITERAL array and removes
those rows at scan time, behind the parquet filters, with whole-stage
codegen arithmetic only. The same bitmap is reusable across queries
and days (persist the (word, bits) rows; merging drops = cell-wise
``bit_or``, the CMS/HLL mergeability contract again).

Portability: positions come from the md5-prefix hash family
(functions.hashing — same value in Spark, DuckDB, Trino, Python), so
a pruned result is exactly replayable by the SQL oracle (q134),
including which false positives survive. Bits are packed 32 per
BIGINT word (bit 31 max), so no mask ever touches the sign bit — no
engine disagreement about BIGINT overflow on ``1 << 63``.

Guarantees: NO false negatives ever (a present key sets all its k
bits by construction); false positives at the standard rate
``(1 - e^(-k·n/m))^k`` ≈ 0.024 for k=4, m/n=8 — every false positive
costs only a wasted probe-side row through the real join, never a
wrong result.

Reference tie-in: the skip-list anti-filter (F1, quality.py) is the
exact-set form of this; the Bloom form is what replaces it when the
key set no longer fits a broadcast list.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import md5_long_seeded

#: Seed base for the Bloom hash family (disjoint from CMS's 7000 band).
_BLOOM_SEED_BASE = 9_000

#: Bits packed per BIGINT word — 32, not 64, so the highest mask is
#: 2^31 and the sign bit stays untouched in every engine.
BITS_PER_WORD = 32


def _positions(key: Column, n_bits: int, k: int) -> list[Column]:
    """The k bit positions of a key — pure md5 arithmetic, portable."""
    return [
        F.pmod(md5_long_seeded(key.cast("string"), _BLOOM_SEED_BASE + i), F.lit(n_bits))
        for i in range(k)
    ]


def bloom_build(df: DataFrame, key_col: str, n_bits: int = 8192, k: int = 4) -> DataFrame:
    """Build the bitmap as a ``(word, bits)`` frame of at most
    ``n_bits / 32`` rows.

    Scale shape: each row explodes to its k positions (intra-row), the
    ``groupBy(word)`` partials collapse to ≤ n_words cells PER MAP TASK
    before the shuffle — so the exchange carries O(n_words · tasks)
    longs no matter how many billions of keys went in, the same
    bounded-state contract as ``sketches.cms_build``. Merging two
    builds (daily drops) is ``union → groupBy(word) → bit_or``.
    """
    pos = F.explode(F.array(*_positions(F.col(key_col), n_bits, k))).alias("pos")
    return (
        # null keys carry no membership information (they can never
        # equi-join) and would emit a null word row that crashes the
        # dense bloom_words materialization — drop them here
        df.filter(F.col(key_col).isNotNull())
        .select(pos)
        .select(
            (F.col("pos") / BITS_PER_WORD).cast("int").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, {BITS_PER_WORD}) AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_words(sketch: DataFrame, n_bits: int) -> list[int]:
    """Densify the sparse (word, bits) rows to an n_bits/32-long list —
    the ONLY collect in the family, bounded by n_bits (8192 bits = 256
    longs ≈ 2 KB on the driver), never by key cardinality."""
    n_words = n_bits // BITS_PER_WORD
    dense = [0] * n_words
    for r in sketch.collect():
        dense[r["word"]] = r["bits"]
    return dense


def bloom_prune(
    df: DataFrame,
    key_col: str,
    words: list[int],
    n_bits: int,
    k: int = 4,
    keep_col: str | None = None,
) -> DataFrame:
    """Filter *df* to rows whose key tests positive in the bitmap —
    all true matches kept (no false negatives), plus the bounded false
    positives.

    The bitmap rides as a LITERAL array inside the predicate: the test
    is k md5s + k array lookups + k bitwise ANDs per row, whole-stage
    codegen, zero joins, zero shuffles, zero driver round trips at run
    time. ``keep_col``: instead of filtering, append a boolean column
    (for auditing/metrics passes that want to SEE the pruned rows).
    """
    if len(words) != n_bits // BITS_PER_WORD:
        raise ValueError(
            f"bloom_prune: words has {len(words)} entries, "
            f"expected {n_bits // BITS_PER_WORD} for n_bits={n_bits}"
        )
    lit_words = F.array(*[F.lit(int(w)).cast("bigint") for w in words])
    work = df
    pred = None
    for i, pos in enumerate(_positions(F.col(key_col), n_bits, k)):
        pcol = f"__bloom_p{i}"
        work = work.withColumn(pcol, pos)
        word = (F.col(pcol) / BITS_PER_WORD).cast("int")
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({pcol}, {BITS_PER_WORD}) AS INT))"
        )
        test = F.element_at(lit_words, word + 1).bitwiseAND(mask) != 0
        pred = test if pred is None else pred & test
    drop = [f"__bloom_p{i}" for i in range(k)]
    if keep_col is not None:
        return work.withColumn(keep_col, pred).drop(*drop)
    return work.filter(pred).drop(*drop)
