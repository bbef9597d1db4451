"""Entity resolution (record linkage): blocking → pairwise similarity
→ transitive clustering into entity ids.

The reference resolves entities by hand-maintained alias tables and
tiered fuzzy string matching against a reference list
(src/etl/transform.py's gestor/custodio canonicalization — the J1/J2
operators). This module is the GENERAL form a warehouse needs when
there is no reference list: discover which records ARE the same
entity. Classic three-stage shape (Fellegi–Sunter pipelines,
dedupe.io, Splink all share it):

1. **Blocking** — a cheap deterministic key (here: the name's last
   token) so only same-block records are compared. Pair space drops
   from n² to Σ block². Known limit of ANY single blocking key: a typo
   in the key token hides the pair. ``similarity_edges_multi`` ships
   the production answer — UNION the edges of several independent
   blocking passes (last token, first token, squashed-name prefix)
   before clustering, so a pair is compared if ANY pass blocks it
   together; each pass keeps the same Σ block² bound. For
   adversarial/heavy blocks swap in the LSH banding of
   ``dedup.minhash_lsh_pairs`` — same edges contract, scale guards
   included.
2. **Scoring** — Jaccard over distinct character trigrams of the
   normalized name, computed as integer intersect/union counts via an
   equi-join on md5 trigram hashes (engine-portable, no UDF).
3. **Clustering** — similarity edges at ``threshold`` feed
   ``dedup.connected_components``; entity_id = min member id, so
   labels are stable under any partitioning and re-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import md5_long
from owl_etl_spark.operators.dedup import connected_components


def _norm(name_col: str):
    return F.lower(F.trim(F.col(name_col)))


#: Independent blocking passes for ``similarity_edges_multi``: each is
#: name → a cheap deterministic key Column. A pair is scored when ANY
#: pass puts both records in one block, so a typo must corrupt EVERY
#: key to hide the pair (mirrors the reference's tiered matcher, which
#: falls back exact → containment → difflib rather than trusting one
#: signal — /root/reference/src/etl/transform.py:358-384).
def _block_last_token(name_col: str):
    return F.element_at(F.split(_norm(name_col), " "), -1)


def _block_first_token(name_col: str):
    return F.element_at(F.split(_norm(name_col), " "), 1)


def _block_squashed_prefix(name_col: str, n: int = 4):
    """First *n* chars of the space-stripped normalized name — robust
    to tokenization typos (missing/extra spaces) and to a corrupted
    LAST token when the front of the name is intact."""
    return F.substring(F.regexp_replace(_norm(name_col), " ", ""), 1, n)


BLOCKING_PASSES = {
    "last_token": _block_last_token,
    "first_token": _block_first_token,
    "squashed_prefix": _block_squashed_prefix,
}


def name_trigrams(
    df: DataFrame, id_col: str, name_col: str, block_col=None
) -> DataFrame:
    """(id, block, h): one row per DISTINCT character trigram of the
    normalized name, hashed to a compact portable int. Names shorter
    than 3 chars contribute themselves as a single token. Intra-row →
    zero shuffles. ``block_col``: blocking-key Column (default: last
    token of the normalized name)."""
    block = _block_last_token(name_col) if block_col is None else block_col
    tri = F.expr(
        f"CASE WHEN length(lower(trim({name_col}))) < 3 "
        f"THEN array(lower(trim({name_col}))) "
        f"ELSE array_distinct(transform(sequence(1, length(lower(trim({name_col}))) - 2), "
        f"i -> substring(lower(trim({name_col})), i, 3))) END"
    )
    return df.select(
        F.col(id_col),
        block.alias("block"),
        F.explode(tri).alias("__t"),
    ).select(id_col, "block", md5_long(F.col("__t")).alias("h"))


def similarity_edges(
    df: DataFrame,
    id_col: str,
    name_col: str,
    threshold: float = 0.6,
    block_col=None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for same-block pairs with trigram-Jaccard
    >= threshold. Intersections come from ONE self-equi-join on
    (block, trigram-hash) — per-task fan-out is bounded by each
    trigram's in-block df (the q29 hot-key caveat applies; LSH
    blocking is the documented heavy-block path). Jaccard =
    inter / (|A| + |B| - inter) over exact integers, rounded at 6 for
    engine portability. ``block_col``: blocking-key Column (default:
    last token of the normalized name)."""
    tri = name_trigrams(df, id_col, name_col, block_col=block_col)
    sizes = tri.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a = tri.select(F.col(id_col).alias("id_a"), "block", "h")
    b = tri.select(F.col(id_col).alias("id_b"), "block", "h")
    inter = (
        a.join(b, ["block", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def similarity_edges_multi(
    df: DataFrame,
    id_col: str,
    name_col: str,
    passes: tuple[str, ...] = ("last_token", "first_token", "squashed_prefix"),
) -> DataFrame:
    """Union of ``similarity_edges`` over several independent blocking
    passes, deduplicated to one (id_a, id_b, jaccard) row per pair.

    Closes the documented single-key miss: a typo in the LAST name
    token hides a pair from last-token blocking, but the first token
    or the squashed 4-char prefix still blocks it together — recall
    strictly dominates any one pass (the edge set is a superset by
    construction), while precision is untouched because every
    candidate still has to clear the SAME trigram-Jaccard threshold (0.6).

    Scale shape: each pass is the bounded Σ block² self-join; the
    union adds a final (id_a, id_b) groupBy to drop pairs found by
    more than one pass. Jaccard depends only on the two names (not
    the pass), so any duplicate edge carries the same score and
    ``max`` is a pure dedup.
    """
    unknown = [p for p in passes if p not in BLOCKING_PASSES]
    if unknown:
        raise ValueError(
            f"unknown blocking pass(es) {unknown}; available: {sorted(BLOCKING_PASSES)}"
        )
    edge_sets = [
        similarity_edges(
            df, id_col, name_col, 0.6, block_col=BLOCKING_PASSES[p](name_col)
        )
        for p in passes
    ]
    out = edge_sets[0]
    for e in edge_sets[1:]:
        out = out.unionByName(e)
    return out.groupBy("id_a", "id_b").agg(F.max("jaccard").alias("jaccard"))


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    passes: tuple[str, ...] | None = None,
) -> DataFrame:
    """Full entity resolution: every input row labeled with its
    ``entity_id`` (= min id in its similarity component; singletons
    label themselves). Deterministic end to end — the whole pipeline
    is oracle-replayable in SQL (q123 single-pass, q133 multi-pass).

    ``passes=None`` keeps the classic single last-token blocking;
    a tuple of ``BLOCKING_PASSES`` names unions those passes' edges
    before clustering (typo-robust recall — see
    ``similarity_edges_multi``)."""
    if passes is None:
        edges = similarity_edges(df, id_col, name_col, 0.6)
    else:
        edges = similarity_edges_multi(df, id_col, name_col, passes=passes)
    return connected_components(
        edges, df.select(id_col), id_col
    ).withColumnRenamed("component", "entity_id")


def select_canonical(
    df: DataFrame,
    labels: DataFrame,
    id_col: str,
    cluster_col: str = "entity_id",
    order_exprs: list | None = None,
) -> DataFrame:
    """Pick ONE canonical record per cluster — the step every
    dedup/linkage pipeline ends with (C4 keeps the longest member of a
    dup cluster; master-data systems keep the most complete record).

    ``order_exprs``: descending-priority ordering columns (first by
    these, ties by ``id_col`` ascending — always total, so the
    survivor set is deterministic under any partitioning). Returns the
    full surviving rows plus ``cluster_col`` and ``n_members``.

    Plan: one join to attach labels; the rank-1 window stands ALONE so
    it plans as WindowGroupLimit (map-side partial top-1, the q07/W1
    property — a count-over-cluster window in the same pass would
    defeat it by needing every row); ``n_members`` comes from a
    map-side-combined aggregate over the skinny labels frame instead.
    At 100 TB the window shuffle carries one partial survivor per
    cluster per map task, never the corpus.
    """
    from pyspark.sql import Window

    order_exprs = order_exprs or []
    counts = labels.groupBy(cluster_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    labeled = df.join(labels, id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        *order_exprs, F.col(id_col).asc()
    )
    return (
        labeled.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
        .join(counts, cluster_col)
    )


def fs_weights(m_probs: list[float], u_probs: list[float]) -> list[dict[str, int]]:
    """Fellegi-Sunter field weights as integer micro-nat LITERALS
    (the sprt_constants / seeded-coefficients trick): for field j
    with match probability m_j (P(agree | same entity)) and chance
    probability u_j (P(agree | different entities)), the
    log-likelihood contributions are

        agree:    ln(m_j / u_j)            > 0
        disagree: ln((1-m_j) / (1-u_j))    < 0

    snapped once driver-side with round-half-away so both engines
    receive identical integers."""
    import math

    if len(m_probs) != len(u_probs):
        raise ValueError("fs_weights: m/u length mismatch")

    def micro(x: float) -> int:
        return int(math.floor(abs(x) * 1e6 + 0.5)) * (1 if x >= 0 else -1)

    out = []
    for m, u in zip(m_probs, u_probs):
        if not (0 < u < m < 1):
            raise ValueError(
                f"fs_weights: need 0 < u < m < 1 per field, got m={m}, u={u}"
            )
        out.append(
            {"agree": micro(math.log(m / u)), "disagree": micro(math.log((1 - m) / (1 - u)))}
        )
    return out


def fellegi_sunter_score(
    pairs: DataFrame,
    agreement_cols: list[str],
    m_probs: list[float],
    u_probs: list[float],
    upper_micro: int,
    lower_micro: int,
) -> DataFrame:
    """Probabilistic record-linkage scoring (Fellegi & Sunter 1969) on
    candidate pairs: the principled upgrade from
    ``similarity_edges``' single fuzzy score — each comparison field
    contributes its own evidence weight (a rare-field agreement like
    tax-id is worth more nats than a common one like city), and the
    pair's total log-likelihood ratio lands in one of three decision
    regions.

    Input: one row per candidate pair (produce them with this
    module's blocking passes) with 0/1 ``agreement_cols`` (nulls
    raise — an unknown agreement is a modeling decision, not a
    silent 0). Score = Σ_j (agree_j ? W_j^a : W_j^d) over the
    micro-nat literals from ``fs_weights`` — an exact BIGINT sum, no
    float accumulation. Decision: 'match' when score ≥ upper,
    'non_match' when ≤ lower, else 'review' (the clerical band).

    Plan: pure per-row projection over the pair table — zero
    shuffles added on top of blocking. Returns the input pair columns
    plus ``(fs_score_micro, decision)``.
    """
    w = fs_weights(m_probs, u_probs)
    if len(agreement_cols) != len(w):
        raise ValueError("fellegi_sunter_score: agreement/weights length mismatch")
    if not upper_micro > lower_micro:
        raise ValueError("fellegi_sunter_score: need upper_micro > lower_micro")
    terms = []
    for j, c in enumerate(agreement_cols):
        a = F.col(c).cast("long")
        guarded = F.when(
            a.isNull() | ~a.isin(0, 1),
            F.raise_error(
                F.lit(
                    f"fellegi_sunter_score: {c} must be 0/1 non-null — encode "
                    "field comparisons explicitly"
                )
            ).cast("long"),
        ).otherwise(a)
        terms.append(
            F.when(guarded == 1, F.lit(w[j]["agree"])).otherwise(
                F.lit(w[j]["disagree"])
            )
        )
    score = sum(terms[1:], terms[0]).cast("long")
    decision = (
        F.when(F.col("fs_score_micro") >= int(upper_micro), F.lit("match"))
        .when(F.col("fs_score_micro") <= int(lower_micro), F.lit("non_match"))
        .otherwise(F.lit("review"))
    )
    return pairs.withColumn("fs_score_micro", score).withColumn("decision", decision)


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    window: int = 3,
    max_distance: int | None = None,
) -> DataFrame:
    """Sorted-Neighborhood Method candidate pairs: records are sorted
    by normalized name WITHIN a blocking key and each record is paired
    with its next ``window`` successors in that order — the classic
    Hernández–Stolfo SNM blocking pass, complementary to trigram
    blocking (:func:`similarity_edges`): SNM surfaces pairs whose
    names are lexicographically adjacent (shared long prefixes,
    truncations) in O(n·w) pairs regardless of block-internal
    frequency skew, where an equi-join on trigram keys can fan out
    quadratically inside a hot block.

    Returns (id_a, id_b, distance) with id_a < id_b, distance =
    Levenshtein over normalized names (the engine-portable scorer both
    engines implement identically — q81's choice), optionally filtered
    to ``distance <= max_distance``. Sort ties (identical normalized
    names) break by id, so the neighbor sequence — and therefore the
    emitted pair set — is deterministic on both engines.

    100 TB shape: the window runs per BLOCK (partitionBy the blocking
    key), never as one global sort — a global ORDER BY window in Spark
    collapses to a single task, the canonical window-function scale
    killer. Per block the cost is sort + w lead() columns = O(n_b·w)
    pairs; the shuffle moves each row once, keyed by block. Window
    passes with different sort keys (multi-pass SNM) are further calls
    ORed by the caller, mirroring ``similarity_edges_multi``.
    """
    if window < 1:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 1")
    from pyspark.sql import Window

    block = _block_first_token(name_col)
    base = df.select(
        F.col(id_col).alias("__id"),
        _norm(name_col).alias("__name"),
        block.alias("__blk"),
    )
    w = Window.partitionBy("__blk").orderBy("__name", "__id")
    pairs = None
    for k in range(1, int(window) + 1):
        p = base.select(
            "__blk",
            F.col("__id").alias("__ida"),
            F.col("__name").alias("__na"),
            F.lead("__id", k).over(w).alias("__idb"),
            F.lead("__name", k).over(w).alias("__nb"),
        ).filter(F.col("__idb").isNotNull())
        pairs = p if pairs is None else pairs.unionByName(p)
    out = (
        pairs.select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            F.levenshtein("__na", "__nb").cast("long").alias("distance"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("distance").alias("distance"))
    )
    if max_distance is not None:
        out = out.filter(F.col("distance") <= int(max_distance))
    return out
