"""Bounded edit-distance self-join with exact length blocking.

``edit_distance_pairs`` finds every pair of rows whose string values
are within Levenshtein distance ``max_dist`` — the typo/variant
detector behind product-name reconciliation, near-duplicate labels
and fuzzy key audits, where both sides are large and a cross join is
impossible.

Exactness + scale come from a LENGTH-BUCKET block that is implied by
the metric, not a heuristic: Levenshtein(a, b) <= d forces
|len(a) - len(b)| <= d, so with buckets of width ``d + 1`` any
qualifying pair sits in the same or adjacent buckets. Each row is
keyed by its own bucket and additionally PROBES the next bucket —
cross-bucket pairs meet exactly once (lower bucket probes up), and
same-bucket pairs are deduped by the id order — so no ``distinct``
pass is needed and per-task candidates are bounded by bucket
occupancy (the fifo_allocate ownership-bucket discipline,
operators/intervals.py:105, applied to string lengths). Candidates
then pass through Spark's three-arg ``levenshtein(l, r, threshold)``
which abandons a row early once the running distance exceeds the
threshold — the verify step is O(d * min_len) per pair, not
O(len²).

Length blocking alone leaves one skew exposure: a corpus where most
strings share one length lands in one bucket. Callers with such
corpora should pre-shard on a cheap second key (e.g. first
character) — noted here rather than built in, because any second key
changes semantics (first-char edits cross shards) and the honest
operator contract is "exact within the declared metric".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """All pairs ``(id_a < id_b)`` with
    ``levenshtein(text_a, text_b) <= 2``. Null ids/texts are
    dropped. Returns ``(id_a, id_b, dist)``; ``dist`` is the exact
    Levenshtein distance (0 for identical strings).
    """
    width = 3
    base = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        .filter(F.col("__id").isNotNull() & F.col("__t").isNotNull())
        .withColumn("__bkt", F.expr(f"CAST(length(__t) AS BIGINT) div {width}"))
    )
    # probe side: own bucket and the next one up
    probe = base.select(
        "__id", "__t", "__bkt", F.explode(F.array(F.col("__bkt"), F.col("__bkt") + 1)).alias("__pb")
    )
    build = base.select(
        F.col("__id").alias("__id2"),
        F.col("__t").alias("__t2"),
        F.col("__bkt").alias("__bkt2"),
    )
    cand = probe.join(build, probe.__pb == build.__bkt2).filter(
        # same bucket: dedupe by id order; adjacent: keep all (pair
        # appears exactly once, via the lower bucket probing up)
        F.when(F.col("__bkt") == F.col("__bkt2"), F.col("__id") < F.col("__id2")).otherwise(
            F.col("__pb") == F.col("__bkt2")
        )
        & (F.col("__id") != F.col("__id2"))
    )
    d = F.levenshtein(F.col("__t"), F.col("__t2"), 2)
    out = cand.select(
        F.least(F.col("__id"), F.col("__id2")).alias("id_a"),
        F.greatest(F.col("__id"), F.col("__id2")).alias("id_b"),
        d.alias("dist"),
    ).filter(F.col("dist") >= 0)
    return out
