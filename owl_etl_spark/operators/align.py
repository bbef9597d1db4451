"""Banded Needleman-Wunsch / Smith-Waterman sequence alignment over
keyed integer sequences.

Alignment is the second classic pairwise-DP similarity next to DTW
(``operators/dtw.py``): where DTW warps TIME, alignment edits CONTENT
— insertions, deletions, substitutions with affine-free integer
scores. For a training-data pipeline this is the sequence-level
near-duplicate signal: two documents whose token streams align with
few gaps are templated copies even when shingle/MinHash misses them
(reference owl-ETL has no counterpart; this extends the engine's
dedup family — see dedup.py module docstring for the family map).

Spark has no built-in: the DP recurrences

    NW:  D[i][j] = max(D[i-1][j-1] + s(a_i, b_j),
                       D[i-1][j] + gap, D[i][j-1] + gap)
    SW:  S[i][j] = max(0, S[i-1][j-1] + s(a_i, b_j),
                       S[i-1][j] + gap, S[i][j-1] + gap)

are inherently sequential per PAIR — the same declared Arrow-batched
``applyInPandas`` boundary as DTW: Spark owns the cross-pair
parallelism (one task per pair after a single shuffle on the pair
id), numpy owns the O(len·band) banded DP. Both scores come out of
ONE assembly + ONE DP sweep per pair (the two recurrences share the
band walk).

Determinism: tokens are exact int64 (caller hashes/buckets), match /
mismatch / gap scores are int64 literals, every DP cell is int64 —
scores are exact BIGINTs, bit-identical under any partitioning (the
dtw.py discipline; NOT SQL-expressible, so queries built on this are
gated by the driver's rows-only check plus unit pinning against the
independent full-matrix pure-Python reference in tests).

Scale contract: per-pair cost is O(len_a · band) time and memory —
``max_len`` refuses runaway tasks loudly (downsample or chunk first).
The Sakoe-Chiba-style ``band`` bounds how far the alignment may
drift off-diagonal; NW needs band ≥ |len_a − len_b| for any global
path to exist (enforced with a raise, like dtw). BIGINT headroom:
|score| ≤ max_len · max(|match|, |mismatch|, |gap|) — far below 2⁶³
for any sane guard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

_BIG = np.int64(2**62)


def _align_band(
    a: np.ndarray,
    b: np.ndarray,
    band: int,
    match: int,
    mismatch: int,
    gap: int,
) -> tuple[int, int]:
    """One banded two-row DP sweep returning ``(nw_score, sw_score)``
    — exact int64. Cells outside the band hold -BIG (NW) / are never
    written (SW floor handles them); the ``cur[j-1]`` horizontal-gap
    term is a short sequential scan over the band, everything else is
    vectorized per row (the dtw.py loop shape with max instead of
    min)."""
    n, m = len(a), len(b)
    if abs(n - m) > band:
        raise ValueError(
            f"align: band {band} < length difference {abs(n - m)} — no "
            "global path exists; widen band or align lengths"
        )
    match_i, mis_i, gap_i = np.int64(match), np.int64(mismatch), np.int64(gap)
    # row 0: leading gaps (NW) inside the band
    prev = np.full(m + 1, -_BIG, dtype=np.int64)
    hi0 = min(m, band)
    prev[: hi0 + 1] = np.arange(hi0 + 1, dtype=np.int64) * gap_i
    prev_sw = np.zeros(m + 1, dtype=np.int64)  # SW row 0 is all 0
    sw_best = np.int64(0)
    for i in range(1, n + 1):
        lo, hi = max(1, i - band), min(m, i + band)
        cur = np.full(m + 1, -_BIG, dtype=np.int64)
        cur_sw = np.zeros(m + 1, dtype=np.int64)
        if lo == 1:
            cur[0] = np.int64(i) * gap_i  # leading gaps in a
        sub = np.where(a[i - 1] == b[lo - 1 : hi], match_i, mis_i)
        diag = prev[lo - 1 : hi] + sub
        up = prev[lo : hi + 1] + gap_i
        base = np.maximum(diag, up)
        diag_sw = prev_sw[lo - 1 : hi] + sub
        up_sw = prev_sw[lo : hi + 1] + gap_i
        base_sw = np.maximum(diag_sw, up_sw)
        run = cur[lo - 1] if lo >= 1 else -_BIG
        run_sw = np.int64(0)
        for k in range(hi - lo + 1):
            run = max(base[k], run + gap_i)
            cur[lo + k] = run
            run_sw = max(base_sw[k], run_sw + gap_i, np.int64(0))
            cur_sw[lo + k] = run_sw
            if run_sw > sw_best:
                sw_best = run_sw
        prev, prev_sw = cur, cur_sw
    return int(prev[m]), int(sw_best)


def align_pairs(
    series: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pos_col: str,
    value_col: str,
    band: int = 64,
    max_len: int = 100_000,
) -> DataFrame:
    """NW global + SW local alignment scores for each requested pair
    of integer sequences. ``series`` has one row per (sequence id,
    integer position, int64 token); ``pairs`` lists (id_a, id_b).
    Returns ``(id_a, id_b, len_a, len_b, nw_score, sw_score)`` — all
    BIGINT, exact; empty sequences yield NULL scores.

    Same plan shape as ``dtw_pairs``: two joins fan the (small) pair
    list against the sequence rows, ONE shuffle on the pair id groups
    both sides into the pair's task, and the pandas stage is the only
    Python — the documented intentional boundary."""
    sid = F.col(id_col)
    pos = F.col(pos_col).cast("long")
    val = F.col(value_col).cast("long")
    pts = series.select(
        sid.alias("__sid"), pos.alias("__pos"), val.alias("__val")
    ).filter(F.col("__pos").isNotNull() & F.col("__val").isNotNull())
    pr = pairs.select(
        F.col("id_a").cast("string").alias("__a"),
        F.col("id_b").cast("string").alias("__b"),
    )
    left = pr.join(
        pts.select(
            F.col("__sid").cast("string").alias("__a"),
            "__pos",
            "__val",
            F.lit(0).alias("__side"),
        ),
        "__a",
    )
    right = pr.join(
        pts.select(
            F.col("__sid").cast("string").alias("__b"),
            "__pos",
            "__val",
            F.lit(1).alias("__side"),
        ),
        "__b",
    )
    both = left.select("__a", "__b", "__side", "__pos", "__val").unionAll(
        right.select("__a", "__b", "__side", "__pos", "__val")
    )
    schema = StructType(
        [
            StructField("id_a", StringType()),
            StructField("id_b", StringType()),
            StructField("len_a", LongType()),
            StructField("len_b", LongType()),
            StructField("nw_score", LongType()),
            StructField("sw_score", LongType()),
        ]
    )
    band_i, max_len_i = int(band), int(max_len)
    match_i, mis_i, gap_i = 2, -1, -2

    def _one(key, pdf):  # (key, pdf) signature — eval type by position
        a_rows = pdf[pdf["__side"] == 0].sort_values(["__pos", "__val"])
        b_rows = pdf[pdf["__side"] == 1].sort_values(["__pos", "__val"])
        a = a_rows["__val"].to_numpy(dtype=np.int64)
        b = b_rows["__val"].to_numpy(dtype=np.int64)
        if len(a) > max_len_i or len(b) > max_len_i:
            raise ValueError(
                f"align_pairs: sequence longer than max_len={max_len_i} in "
                f"pair {key} — downsample or raise the guard deliberately"
            )
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame(
                {
                    "id_a": [key[0]],
                    "id_b": [key[1]],
                    "len_a": [len(a)],
                    "len_b": [len(b)],
                    "nw_score": [None],
                    "sw_score": [None],
                }
            )
        nw, sw = _align_band(a, b, band_i, match_i, mis_i, gap_i)
        return pd.DataFrame(
            {
                "id_a": [key[0]],
                "id_b": [key[1]],
                "len_a": [len(a)],
                "len_b": [len(b)],
                "nw_score": [nw],
                "sw_score": [sw],
            }
        )

    return both.groupBy("__a", "__b").applyInPandas(_one, schema)
