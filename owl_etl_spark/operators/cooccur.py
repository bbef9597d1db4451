"""Co-occurrence mining: within-document token PMI (pointwise mutual
information) — the association-strength statistic corpus analysis and
phrase/collocation detection are built on (word2vec's SGNS factorizes
a shifted PMI matrix; market-basket "frequently bought together" is
the same operator over order baskets).

Scale shape: the quadratic step is the within-document pair join, so
the vocabulary MUST be bounded first — here the top-``top_vocab``
tokens by document frequency (the only ones with enough support for a
stable PMI anyway). Presence lists then carry ≤ top_vocab rows per
document, the self-join on the document key fans out ≤ top_vocab²/2
pairs per document, and map-side partial aggregation collapses them to
the ≤ top_vocab²/2 GLOBAL pair space before the shuffle. Everything
downstream (document frequencies, totals) is broadcast-sized.

Determinism: counts are exact integers; PMI = ln(n_ab·N / (df_a·df_b))
is one double expression in fixed order snapped to integer micro-nats
(the q104/q124 trick) — hash-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_pmi_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_vocab: int = 50,
    min_pair_count: int = 5,
) -> DataFrame:
    """(tok_a, tok_b, n_ab, df_a, df_b, pmi_micro_nats) for every
    ordered-by-name pair of top-vocabulary tokens co-occurring in at
    least ``min_pair_count`` documents. Document-level probabilities:
    p(x) = df_x / N over distinct presence, so repeated mentions in one
    document count once."""
    toks = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("tok"),
        )
        .filter(F.length("tok") >= 4)
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    vocab = dfreq.orderBy(F.desc("df"), F.asc("tok")).limit(top_vocab)
    present = toks.join(F.broadcast(vocab.select("tok")), "tok").select(id_col, "tok")
    a = present.select(F.col(id_col).alias("__d"), F.col("tok").alias("tok_a"))
    b = present.select(F.col(id_col).alias("__d"), F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "__d")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    va = vocab.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    pmi = F.round(
        F.log(
            (F.col("n_ab") * F.col("__n")).cast("double")
            / (F.col("df_a") * F.col("df_b")).cast("double")
        )
        * 1_000_000
    ).cast("long")
    return (
        pairs.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "df_a",
            "df_b",
            pmi.alias("pmi_micro_nats"),
        )
    )
