"""Byte-pair-encoding merge statistics — the first ``n_merges``
rounds of BPE tokenizer training as pure relational algebra.

BPE training is THE canonical LLM-pipeline computation over a corpus:
count adjacent symbol pairs, merge the most frequent pair everywhere,
repeat. Its scale shape is friendlier than it looks: after ONE corpus
pass builds the (distinct word, frequency) dictionary, every round
works on the VOCABULARY (size ~10⁵–10⁶ regardless of corpus bytes) —
so a 100 TB corpus pays one tokenize+count shuffle and the iterative
part never touches the data again. This module keeps exactly that
split:

- one corpus pass: lowercase, whitespace-split, word→freq aggregate
  (the only corpus-sized shuffle), words length-capped by
  ``MAX_WORD_LEN`` (a pathological unbroken-byte "word" would make
  the per-row fold quadratic — refuse loudly, pre-split upstream);
- per round: adjacent-pair explode over the VOCAB (weighted by word
  freq, exact BIGINT sums), winner = max count with lexicographic
  (left, right) tie-break, then a map-only greedy non-overlapping
  merge rewrite of each word's symbol array via an ``aggregate`` fold
  (JVM-side lambda, no Python) — the winner rides a 1-row broadcast
  cross-join, so a round is ONE vocab-sized shuffle and zero driver
  collects.

Determinism: counts are exact integers, the tie-break is total, and
the greedy left-to-right non-overlapping rewrite (a merged token
never re-merges within its round — matters for runs like "aaaa" under
(a,a)) is a sequential fold per word — all engine-portable, so the
whole training prefix replays in SQL (DuckDB ``list_reduce`` with a
struct accumulator mirrors the fold exactly; see q254's oracle).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import seal

#: fold-state sentinel: symbols are never empty strings, so '' marks
#: "no pending symbol" without a tag column
_EMPTY = "''"
#: Longest word (in characters) the per-row merge fold accepts.
MAX_WORD_LEN = 32


def _merge_fold_expr(syms_col: str, l_col: str, r_col: str) -> str:
    """Greedy non-overlapping (left, right) merge over a symbol array
    as a single ``aggregate`` fold — the engine-side twin of the
    oracle's ``list_reduce``."""
    pend = (
        f"CASE WHEN acc.prev = {_EMPTY} THEN acc.out "
        f"ELSE concat(acc.out, array(acc.prev)) END"
    )
    return (
        f"aggregate({syms_col}, "
        f"named_struct('out', cast(array() as array<string>), 'prev', {_EMPTY}), "
        f"(acc, s) -> CASE WHEN acc.prev = {l_col} AND s = {r_col} "
        f"THEN named_struct('out', concat(acc.out, array(concat({l_col}, {r_col}))), "
        f"'prev', {_EMPTY}) "
        f"ELSE named_struct('out', {pend}, 'prev', s) END, "
        f"acc -> {pend})"
    )


def word_freq_symbols(docs: DataFrame, text_col: str) -> DataFrame:
    """The one corpus pass: ``(word, freq, syms)`` — distinct
    lowercase whitespace tokens with corpus frequency and their
    initial single-character symbol arrays. Words longer than
    ``MAX_WORD_LEN`` raise (see module docstring)."""
    words = (
        docs.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    checked = words.withColumn(
        "word",
        F.when(
            F.length("word") > MAX_WORD_LEN,
            F.raise_error(
                F.lit(
                    f"bpe: word longer than max_word_len={MAX_WORD_LEN} — "
                    "pre-split pathological tokens upstream"
                )
            ).cast("string"),
        ).otherwise(F.col("word")),
    )
    return checked.withColumn(
        "syms",
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
    )


def bpe_pair_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 3,
) -> DataFrame:
    """First ``n_merges`` BPE merge rules learned from the corpus:
    one row per round — ``(merge_round, left, right, pair_count)``,
    the winner pair and its exact weighted adjacency count at the
    moment it was chosen. See module docstring for the scale shape
    and determinism contract."""
    if n_merges < 1:
        raise ValueError(f"bpe_pair_merges: n_merges must be >= 1, got {n_merges}")
    vocab = seal(word_freq_symbols(docs, text_col), eager=False)
    winners = []
    for t in range(1, int(n_merges) + 1):
        pairs = (
            # CASE guard: Spark's sequence(1, 0) counts DOWN, so a
            # 1-symbol word would index out of bounds without it
            vocab.select(
                "freq",
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) >= 2 THEN "
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> named_struct('l', syms[i - 1], 'r', syms[i])) "
                        "ELSE cast(array() as array<struct<l: string, r: string>>) END"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
            .agg(F.sum("freq").cast("long").alias("pair_count"))
        )
        best = seal(
            pairs.orderBy(
                F.col("pair_count").desc(), F.col("left").asc(), F.col("right").asc()
            )
            .limit(1)
            .select(
                F.lit(t).cast("long").alias("merge_round"),
                "left",
                "right",
                "pair_count",
            ),
            eager=False,
        )
        winners.append(best)
        if t < n_merges:
            vocab = seal(
                vocab.crossJoin(F.broadcast(best.select("left", "right"))).select(
                    "word",
                    "freq",
                    F.expr(_merge_fold_expr("syms", "left", "right")).alias("syms"),
                ),
                eager=False,
            )
    return reduce(DataFrame.unionAll, winners)
