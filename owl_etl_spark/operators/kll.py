"""Mergeable deterministic-compaction quantile sketch (KLL/MRL-style)
with a SELF-CERTIFYING rank-error bound.

The exact quantile family (``operators/quantiles.py``) computes true
ranks with a full sort/window — right for gates, wrong as the only
tool at 100 TB where a profile pass wants percentiles of dozens of
columns in one scan. The sketch path: every input partition folds its
rows into a few-KB summary (``mapInPandas``, one output row per
partition), the driver merges the per-partition summaries, and
quantile queries read the merged summary — the classic mergeable-
summaries shape (Agarwal et al., "Mergeable Summaries", PODS'12;
Karnin-Lang-Liberty FOCS'16 for the compactor layout).

Design choices, deliberately boring and auditable:

- **Deterministic compaction** instead of KLL's random coin: each
  level keeps a compaction counter and alternates the kept parity.
  The classic lemma still applies — one compaction at level h (item
  weight w = 2^h) shifts any rank by at most w — so instead of a
  probabilistic ε we track the EXACT worst-case bound
  ``err = Σ_h C_h · 2^h`` (C_h = compactions performed at level h)
  inside the sketch as it runs. Every estimate ships with the bound
  that certifies it; the gate query asserts |true_rank − est_rank| ≤
  err and hashes the boolean (the q53 sketch-contract pattern).
- **Uniform level capacity k** (MRL-style) rather than KLL's
  geometrically-decaying capacities: marginally bigger summaries,
  simpler proof, same mergeability. Size is O(k · log(n/k)) int64s.
- **int64 values only** — the engine-wide integer-cents discipline;
  merging and querying never touch floats, so estimates are exact
  BIGINTs and bit-stable.

Merge law (unit-pinned): ``merge(sk(A), sk(B))`` summarizes A ∪ B
with ``err ≤ err_A + err_B + (new compaction errors)`` — the bound
composes, so a 1000-partition tree merge stays certified.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["KLL", "kll_partition_sketches", "kll_merge_rows", "kll_quantile_report"]


class KLL:
    """Driver/worker-side sketch object. ``k`` is the per-level
    capacity (rank-error knob): worst-case certified error after n
    updates is ~log2(n/k)·n/k, i.e. k=400 certifies ~1% at n=10⁶."""

    def __init__(self, k: int = 400):
        if k < 8:
            raise ValueError(f"KLL: k must be >= 8, got {k}")
        self.k = int(k)
        self.levels: list[list[int]] = [[]]
        self.flips: list[int] = [0]
        self.n = 0
        self.err = 0

    # -- update ------------------------------------------------------
    def update_many(self, values: np.ndarray) -> None:
        if values.size == 0:
            return
        self.n += int(values.size)
        lvl0 = self.levels[0]
        lvl0.extend(int(v) for v in values)
        self._compress()

    def _compress(self) -> None:
        h = 0
        while h < len(self.levels):
            if len(self.levels[h]) > self.k:
                self._compact(h)
            h += 1

    def _compact(self, h: int) -> None:
        items = sorted(self.levels[h])
        if len(items) % 2:
            # odd leftover stays at this level (no error contribution)
            leftover, items = [items[-1]], items[:-1]
        else:
            leftover = []
        if h + 1 == len(self.levels):
            self.levels.append([])
            self.flips.append(0)
        off = self.flips[h] & 1
        self.flips[h] += 1
        self.levels[h + 1].extend(items[off::2])
        self.levels[h] = leftover
        # deterministic-compaction lemma: one level-h compaction moves
        # any rank by at most the item weight 2^h
        self.err += 1 << h

    # -- merge -------------------------------------------------------
    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError(f"KLL merge: k mismatch {self.k} vs {other.k}")
        while len(self.levels) < len(other.levels):
            self.levels.append([])
            self.flips.append(0)
        for h, lv in enumerate(other.levels):
            self.levels[h].extend(lv)
        self.n += other.n
        self.err += other.err
        self._compress()
        return self

    # -- query -------------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, lv in enumerate(self.levels):
            vals.extend(lv)
            wts.extend([1 << h] * len(lv))
        v = np.asarray(vals, dtype=np.int64)
        w = np.asarray(wts, dtype=np.int64)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, p_bp: int) -> int:
        """Value whose estimated rank is closest to p_bp/10000 · n
        (p in basis points keeps the API integer-only). Raises on an
        empty sketch."""
        if self.n == 0:
            raise ValueError("KLL.quantile on empty sketch")
        v, w = self._weighted()
        target = (self.n * int(p_bp)) // 10_000
        cum = np.cumsum(w)
        # first item whose cumulative weight EXCEEDS target: its
        # estimated strict rank (= cum of everything before it) is the
        # largest value <= target, i.e. exact when weights are all 1
        idx = int(np.searchsorted(cum, target, side="right"))
        return int(v[min(idx, len(v) - 1)])

    def est_rank(self, value: int) -> int:
        """Estimated number of inputs strictly below ``value``."""
        v, w = self._weighted()
        return int(w[v < value].sum())

    def size_items(self) -> int:
        return sum(len(lv) for lv in self.levels)


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

_SKETCH_SCHEMA = (
    "n bigint, err bigint, k bigint, levels array<array<bigint>>"
)


def kll_partition_sketches(
    df: DataFrame, value_col: str, k: int = 400
) -> DataFrame:
    """One sketch row per input partition (``mapInPandas`` — the only
    Python is the declared sketch boundary; rows never leave their
    partition, nothing shuffles). NULLs are skipped. Output rows are
    a few KB each: n, certified err, k, and the level arrays."""
    kk = int(k)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = KLL(kk)
        for pdf in batches:
            col = pdf[value_col]
            vals = col[col.notna()].to_numpy(dtype=np.int64)
            sk.update_many(vals)
        if sk.n == 0:
            return
        yield pd.DataFrame(
            {
                "n": [sk.n],
                "err": [sk.err],
                "k": [sk.k],
                "levels": [[list(lv) for lv in sk.levels]],
            }
        )

    return df.select(F.col(value_col).cast("long").alias(value_col)).mapInPandas(
        build, _SKETCH_SCHEMA
    )


def kll_merge_rows(rows: Iterable) -> KLL:
    """Driver-side merge of collected sketch rows (partition-count
    rows, KBs each — the documented driver-sized collect). Rows merge
    in sorted (n, first-level) order so the result is independent of
    collect order."""
    rows = sorted(rows, key=lambda r: (r["n"], r["levels"]))
    if not rows:
        raise ValueError("kll_merge_rows: no sketches to merge")
    out: KLL | None = None
    for r in rows:
        sk = KLL(int(r["k"]))
        sk.n = int(r["n"])
        sk.err = int(r["err"])
        sk.levels = [list(map(int, lv)) for lv in r["levels"]]
        sk.flips = [0] * len(sk.levels)
        out = sk if out is None else out.merge(sk)
    return out


def kll_quantile_report(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Self-certifying quantile report: build per-partition sketches,
    merge on the driver, then verify each estimate's TRUE rank against
    the sketch's own certified error bound with one exact aggregate
    (the verification pass exists for the gate; at 100 TB you run the
    sketch alone). Returns one row per requested basis-point
    percentile: ``(p_bp, n, within_bound)`` — the q53 contract shape,
    so the oracle asserts the boolean TRUE and any sketch regression
    fails the hash."""
    spark = df.sparkSession
    longs = df.select(F.col(value_col).cast("long").alias("v")).filter(
        F.col("v").isNotNull()
    )
    sk = kll_merge_rows(kll_partition_sketches(longs, "v", k=400).collect())
    ests = [(p, sk.quantile(p)) for p in (100, 500, 2500, 5000, 7500, 9500, 9900)]
    # literal_frame, not createDataFrame: no Python-worker round trips
    # for a percentile-count-sized frame (r13)
    from owl_etl_spark.session import literal_frame

    est_df = literal_frame(spark, ests, "p_bp bigint, est bigint")
    # one scan computes every estimate's exact strict rank
    ranks = longs.crossJoin(F.broadcast(est_df)).groupBy("p_bp", "est").agg(
        F.sum(F.when(F.col("v") < F.col("est"), 1).otherwise(0))
        .cast("long")
        .alias("true_rank")
    )
    n, err = sk.n, sk.err
    # two err terms: the sketch's certified rank error PLUS the
    # selection granularity (the chosen item's estimated rank can sit
    # up to one top-level item weight from the target, and that weight
    # is itself <= err whenever any compaction ran); +1 absorbs the
    # integer-rank discretization
    bound = 2 * err + 1
    return (
        ranks.select(
            "p_bp",
            F.lit(n).cast("long").alias("n"),
            F.expr(
                f"abs(true_rank - (({n} * p_bp) div 10000)) <= {bound}"
            ).alias("within_bound"),
        )
        .orderBy("p_bp")
    )
