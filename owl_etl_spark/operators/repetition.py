"""Within-document n-gram repetition profiling — the Gopher/
RefinedWeb repetition filters the q84 gate's single top-token ratio
doesn't cover.

Round-10 wave 8. Two signals per document, both over the whitespace
token stream:

- ``top_bigram_share``: count of the most frequent token bigram over
  the number of bigram slots (n_tokens − 1) — catches boilerplate
  phrase loops ("click here click here …");
- ``dup_trigram_share``: fraction of trigram slots covered by
  trigrams that occur ≥ 2 times within the document — the
  duplicate-n-gram-fraction filter (machine-generated spam scores
  high, natural prose low).

Exactness: n-grams are built positionally from the token array
(``transform(sequence(...))`` — windowless, intra-row), counts are
exact BIGINTs, shares exact floor divisions in micro.

Scale posture: one explode per n-gram order into a (doc, gram)
aggregate — map-side combined, partitioned by doc hash; no joins of
row volumes beyond the per-doc metric join (doc-keyed, co-
partitioned). The explode fan-out is token-count-bounded per row,
the same budget the q24 tokenizer already spends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.functions.text import normalize_text, tokens

_M = 1_000_000


def _fd(x: str, d: str):
    """Exact floor division of BIGINT SQL fragments (the q291 device)."""
    return F.expr(f"(({x}) - (((({x}) % ({d})) + ({d})) % ({d}))) div ({d})")


def ngram_repetition_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document repetition profile. Documents with fewer than
    3 whitespace tokens are excluded (no trigram slots —
    stated discipline).

    Returns ``(id, n_tokens, n_bigrams, top_bigram_count,
    top_bigram_share_micro, n_trigrams, dup_trigram_count,
    dup_trigram_share_micro)`` where dup_trigram_count sums the
    occurrences of every trigram appearing ≥ 2 times in the doc.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        tokens(normalize_text(F.col(text_col))).alias("__t"),
    ).filter(F.size("__t") >= 3)
    # Round 12 (guide §4.2's interpreted-lambda trap, measured §1):
    # the old gram builder indexed the token array from INSIDE the
    # transform lambda (get(__t, i)); CollapseProject inlines __t's
    # whole tokens(normalize_text(text)) definition into the lambda
    # body, and higher-order lambdas evaluate INTERPRETED with no
    # subexpression reuse — the regex normalize re-ran once per gram
    # ELEMENT (~2,500×/doc; profiled as two single-task stages burning
    # 19–25 s CPU at sf0.1). zip_with over two slices references the
    # token array only OUTSIDE the lambda (slice/size are ordinary
    # per-row expressions), so the lambda touches just its element
    # arguments and normalize runs a constant number of times per ROW.
    # Gram strings are byte-identical to the get() form.
    base = base.select(
        "__id",
        F.size("__t").cast("long").alias("n_tokens"),
        F.expr(
            "zip_with(slice(__t, 1, greatest(size(__t) - 1, 1)), "
            "slice(__t, 2, greatest(size(__t) - 1, 1)), "
            "(a, b) -> concat(a, ' ', b))"
        ).alias("__b2"),
        F.expr(
            "zip_with(zip_with(slice(__t, 1, greatest(size(__t) - 2, 1)), "
            "slice(__t, 2, greatest(size(__t) - 2, 1)), "
            "(a, b) -> concat(a, ' ', b)), "
            "slice(__t, 3, greatest(size(__t) - 2, 1)), "
            "(ab, c) -> concat(ab, ' ', c))"
        ).alias("__b3"),
    )
    bi = (
        base.select("__id", F.explode("__b2").alias("__g"))
        .groupBy("__id", "__g")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .groupBy("__id")
        .agg(F.max("__c").cast("long").alias("top_bigram_count"))
    )
    tri = (
        base.select("__id", F.explode("__b3").alias("__g"))
        .groupBy("__id", "__g")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .groupBy("__id")
        .agg(
            F.sum(F.when(F.col("__c") >= 2, F.col("__c")).otherwise(0))
            .cast("long")
            .alias("dup_trigram_count")
        )
    )
    out = (
        base.select("__id", "n_tokens")
        .join(bi, "__id")
        .join(tri, "__id")
        .select(
            "__id",
            "n_tokens",
            (F.col("n_tokens") - 1).cast("long").alias("n_bigrams"),
            "top_bigram_count",
            _fd("top_bigram_count * 1000000", "n_tokens - 1")
            .cast("long")
            .alias("top_bigram_share_micro"),
            (F.col("n_tokens") - 2).cast("long").alias("n_trigrams"),
            "dup_trigram_count",
            _fd("dup_trigram_count * 1000000", "n_tokens - 2")
            .cast("long")
            .alias("dup_trigram_share_micro"),
        )
    )
    return out.withColumnRenamed("__id", id_col)
