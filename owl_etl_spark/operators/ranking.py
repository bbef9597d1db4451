"""Corpus-level relevance ranking (BM25) — the retrieval-side
counterpart of the TF-IDF keyword extractor (functions/text.py).

A training-data pipeline uses this for query-driven corpus curation
(pulling topical slices out of a web crawl) and for building retrieval
eval sets. The whole computation is DataFrame-native: token explode →
per-(doc, term) tf → per-term df → 1-row corpus stats cross-joined in
(never a driver-side ``.count()``) → per-row IEEE math → top-k window.

Scale: the only shuffles are the tf groupBy (keyed by doc), the
vocabulary-sized df aggregate for the query terms (|terms| rows — a
broadcast join), and the final top-k. Query terms are filtered BEFORE
the tf aggregate, so the shuffled volume is matched postings only, not
the corpus vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.functions.text import normalize_text, tokens


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Top-k documents by BM25 score for a bag of query ``terms``.

    Uses the Lucene-style non-negative idf
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` and the classic
    saturation/length normalization
    ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`` with k1 = 1.2, b = 0.75.

    Determinism: idf and the length norm are computed from exact
    BIGINT counts; every double op after that is per-row IEEE, and the
    final score is rounded to 6 digits before ranking with a
    (score DESC, id ASC) tie-break — so the top-k set is identical
    across engines and partitionings.

    Documents matching none of the terms score 0 and are not returned.
    """
    toks = df.select(
        F.col("doc_id").alias("id"), tokens(normalize_text(F.col("text"))).alias("t")
    ).withColumn("dl", F.size("t").cast("long"))
    # 1-row corpus stats, joined in as a broadcast-able literal frame —
    # the n_docs anti-pattern (a separate driver-side count job) stays out
    stats = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    matched = (
        toks.select("id", "dl", F.explode("t").alias("term"))
        .filter(F.col("term").isin(list(terms)))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_t = matched.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df_t"))
    scored = (
        matched.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn("avgdl", F.col("sum_dl").cast("double") / F.col("n_docs"))
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (1.2 + 1))
            / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("id")
        # per-term contributions are rounded to integer nano-units and
        # summed exactly as BIGINT: a naive sum(double) over the terms
        # would depend on accumulation order (engine- and
        # partitioning-specific at the last ulp)
        .agg(
            F.round(
                F.sum(F.round(F.col("contrib") * 1e9).cast("long")) / 1e9,
                6,
            ).alias("score")
        )
    )
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias("doc_id"),
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def unigram_logprob_score(
    df: DataFrame,
) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    unigram LM — the cheap stand-in for KenLM-style LM filtering
    (CCNet's quality signal): fluent/typical documents score LOW
    (their tokens are common), gibberish and off-distribution text
    scores HIGH. Rank by score and gate the tail.

    Exactness contract (engine determinism rule — no float
    accumulation order anywhere): each token's cost is snapped to
    integer micro-nats, ``round(ln(total/count(tok)) * 1e6)`` (ln and
    division are correctly-rounded IEEE ops on an integer ratio →
    bit-identical on any engine), the per-doc sum is a BIGINT, and the
    mean is one final rounded division. Output: (id, n_tokens,
    cost_micro_nats, avg_cost_micro_nats).

    Plan at 100 TB: tokenize + explode (map-side) → one groupBy tok
    (the vocab aggregate; partial aggregation collapses per-task
    repeats) → broadcast-or-shuffle hash join of exploded tokens
    against the vocab (AQE decides; a natural-language vocab is MBs —
    broadcast) → one groupBy doc. No windows, no sorts.
    """
    from owl_etl_spark.functions.text import normalize_text, tokens

    toks = df.select(
        F.col("doc_id").alias("__id"),
        F.explode(tokens(normalize_text(F.col("text")))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__cnt"))
    total = toks.groupBy().agg(F.count(F.lit(1)).alias("__total"))
    cost = F.round(
        F.log(F.col("__total").cast("double") / F.col("__cnt").cast("double")) * 1_000_000
    ).cast("long")
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select("__id", cost.alias("__cost"))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__cost").cast("long").alias("cost_micro_nats"),
        )
    )
    return scored.select(
        F.col("__id").alias("doc_id"),
        "n_tokens",
        "cost_micro_nats",
        F.round(F.col("cost_micro_nats").cast("double") / F.col("n_tokens"))
        .cast("long")
        .alias("avg_cost_micro_nats"),
    )


def bigram_logprob_score(
    df: DataFrame,
) -> DataFrame:
    """Per-document bigram-LM cross-entropy against the corpus's own
    add-one-smoothed bigram model — one rung up the perplexity ladder
    from ``unigram_logprob_score``: fluent word ORDER now matters, so
    shuffled/boilerplate/keyword-stuffed text that sails past a
    unigram gate scores high here. The cost of each bigram (w1, w2)
    is −ln P(w2 | w1) with Laplace smoothing:

        P(w2 | w1) = (c(w1 w2) + 1) / (c(w1·) + V)

    where c(w1·) counts bigrams with left context w1 and V is the
    corpus unigram vocabulary size — the textbook add-one estimator,
    never zero, so every bigram has a finite cost.

    Exactness contract (the module's no-float-accumulation rule):
    each bigram's cost is snapped to integer micro-nats —
    round(ln((c1 + V)/(c12 + 1)) · 1e6), a single ln of an exact
    integer ratio — the per-doc sum is BIGINT, and the mean is one
    final rounded division. Output: (id, n_bigrams,
    cost_micro_nats, avg_cost_micro_nats); documents with fewer than
    2 tokens emit no row (no bigrams to score — callers union a
    default if they gate on coverage).

    Plan at 100 TB: bigram construction is a pure map
    (transform(sequence(...)) over the token array — no window, no
    posexplode join); one groupBy bigram (vocab of bigrams), one
    groupBy context, one scalar vocab count, then joins mirroring
    the unigram operator (bigram/context tables are vocabulary-sized
    — AQE broadcasts them) and one per-doc aggregate.
    """
    from owl_etl_spark.functions.text import normalize_text, tokens

    toked = df.select(
        F.col("doc_id").alias("__id"), tokens(normalize_text(F.col("text"))).alias("__a")
    )
    bigrams = toked.select(
        "__id",
        F.explode(
            F.expr(
                "CASE WHEN size(__a) >= 2 THEN "
                "transform(sequence(1, size(__a) - 1), "
                "i -> concat(element_at(__a, i), ' ', element_at(__a, i + 1))) "
                "ELSE array() END"
            )
        ).alias("bg"),
    )
    bigrams = bigrams.select(
        "__id", "bg", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("__w1")
    )
    bg_cnt = bigrams.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("__c12"))
    ctx_cnt = bigrams.groupBy("__w1").agg(F.count(F.lit(1)).cast("long").alias("__c1"))
    vocab = (
        toked.select(F.explode("__a").alias("tok"))
        .agg(F.count_distinct("tok").cast("long").alias("__v"))
    )
    cost = F.round(
        F.log(
            (F.col("__c1") + F.col("__v")).cast("double")
            / (F.col("__c12") + F.lit(1)).cast("double")
        )
        * 1_000_000
    ).cast("long")
    scored = (
        bigrams.join(bg_cnt, "bg")
        .join(ctx_cnt, "__w1")
        .crossJoin(F.broadcast(vocab))
        .select("__id", cost.alias("__cost"))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("__cost").cast("long").alias("cost_micro_nats"),
        )
    )
    return scored.select(
        F.col("__id").alias("doc_id"),
        "n_bigrams",
        "cost_micro_nats",
        F.round(F.col("cost_micro_nats").cast("double") / F.col("n_bigrams"))
        .cast("long")
        .alias("avg_cost_micro_nats"),
    )
