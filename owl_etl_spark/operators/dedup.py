"""Deduplication operators for training-data pipelines.

MinHash+LSH, n-gram Jaccard, winnowing containment and embedding-cosine
near-dup pairs, and connected components over them. These extend the
reference (whose only dedup is latest-per-key, SURVEY.md W1) with the
operators a 100 TB text corpus needs.

Scale design:
- signatures/fingerprints are computed intra-row with higher-order
  functions — zero shuffle until the candidate join;
- candidate generation always goes through a *bucket equi-join*
  (LSH band or embedding cluster), never an all-pairs cross join; the
  exact verifier (Jaccard/cosine) runs only on candidates;
- the all-pairs ``ngram_jaccard_pairs`` is the small-data oracle
  baseline and deliberately documents its O(n·d²) blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.functions.hashing import (
    MINHASH_P,
    md5_long,
    minhash_coeffs,
    minhash_signature_sql,
)
from owl_etl_spark.functions.text import normalize_text, shingle_chain_sql
from owl_etl_spark.session import (
    bounded_collect,
    iterate,
    literal_frame,
    release,
    seal,
    sealed,
    spread_for_cpu,
)


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
) -> DataFrame:
    """Attach ``minhash`` (array<bigint>) computed from word shingles.

    Intra-row only; safe to run on any corpus size.

    The token and shingle arrays are materialized as columns BEFORE the
    per-seed aggregates: embedding the ``split(...)`` expression inside
    the higher-order lambdas makes Catalyst re-evaluate it per array
    element per seed — O(tokens² · seeds) character work per row
    (measured 25× slower at 5k docs).
    """
    df = (
        df.withColumn("__norm", normalize_text(F.col(text_col)))
        .withColumn("__toks", F.split(F.col("__norm"), " "))
        .withColumn(
            "__shingles",
            F.expr(
                f"CASE WHEN size(__toks) < 3 THEN array(__norm) "
                f"ELSE {shingle_chain_sql('__toks', 3)} END"
            ),
        )
    )
    return df.withColumn("minhash", minhash_signature_sql("__shingles", num_hashes)).drop(
        "__norm", "__toks", "__shingles"
    )


def _chunked_pair_expansion(
    buckets: DataFrame, key_cols: list[str], max_group: int
) -> DataFrame:
    """Expand each bucket's SORTED ``ids`` array into its (id_a <
    id_b) pair triangle with per-task fan-out bounded by
    ``max_group``² — the shared skew guard of ``minhash_lsh_pairs``
    and ``ngram_jaccard_pairs``.

    The sorted list is sliced into ≤``max_group`` chunks; one row per
    (ci ≤ cj) chunk combination is emitted (for a bucket within the
    cap: exactly one (0,0) row, so the common case pays only the
    repartition), an exchange spreads the chunk-pair rows (moving
    ~2g²/cap ids, never g²/2 pairs into one task), and each row
    expands through two nested generators — posexplode of chunk a,
    then explode of (for the same-chunk triangle) the strictly-after
    slice of chunk b. Generators and slice() run inside whole-stage
    codegen and STREAM the pairs; the earlier higher-order-transform
    form evaluated interpreted AND materialized the whole ≤cap² struct
    array per row first (measured 4x slower on a df=6k hot bucket).
    Sorted chunks keep id_a < id_b for free on both branches.

    Emits one row per pair per bucket (callers dedupe/aggregate).
    """
    nchunks = f"CAST(ceil(size(ids) / {max_group}.0) AS INT)"
    chunk_pair_expr = F.expr(
        f"flatten(transform(sequence(0, {nchunks} - 1, 1), ci -> "
        f"transform(sequence(ci, {nchunks} - 1, 1), cj -> named_struct("
        f"'a', slice(ids, ci * {max_group} + 1, {max_group}), "
        f"'b', slice(ids, cj * {max_group} + 1, {max_group}), "
        f"'same', ci = cj))))"
    )
    # Round-robin with an EXPLICIT partition count. A hash repartition
    # without one is an AQE coalescing target, and chunk-pair rows are
    # tiny BEFORE expansion (~16 KB per row) precisely when they are
    # about to expand into ≤cap² pairs — AQE sees a sub-64MB exchange
    # and folds it back into ONE partition, silently undoing the guard
    # (observed: the guarded df=8k run's expansion ran as a single
    # 24 s task, identical to unguarded). An explicit count opts the
    # exchange out of AQE coalescing, and round-robin spreads the few
    # hot rows evenly where hashing 36 keys into 32 buckets would
    # collide.
    try:
        n_part = int(buckets.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        # platforms that set the conf to a non-numeric value ("auto",
        # Databricks auto-optimized shuffle) — fall back to cluster width
        n_part = buckets.sparkSession.sparkContext.defaultParallelism
    return (
        buckets.select(*key_cols, F.explode(chunk_pair_expr).alias("c"))
        .repartition(n_part)
        .select(
            F.col("c.b").alias("b"),
            F.col("c.same").alias("same"),
            F.posexplode(F.col("c.a")).alias("i", "id_a"),
        )
        .select(
            "id_a",
            F.explode(
                # same-chunk: only ids strictly after 0-based position
                # i -> 1-based slice start i + 2
                F.when(F.col("same"), F.expr("slice(b, i + 2, size(b))")).otherwise(
                    F.col("b")
                )
            ).alias("id_b"),
        )
    )


def minhash_band_signatures(df: DataFrame, bands: int = 4) -> DataFrame:
    """``(doc_id, band, sig)`` band-signature rows of ``text`` (16
    hashes over word 3-shingles) — the persistable half
    of MinHash-LSH, shared by the one-shot pair finder
    (:func:`minhash_lsh_pairs`) and the incremental cross-drop path
    (:func:`incremental_lsh_pairs`), which stores these rows between
    drops instead of recomputing the whole corpus each month.
    """
    rows_per_band = 16 // bands
    # Repartition BEFORE the signature stage: a small text corpus often
    # arrives as one scan partition, which would serialize the CPU-heavy
    # md5 work onto a single task. Round 12: with an EXPLICIT width —
    # the bare .repartition(col) form let AQE coalesce the small-bytes
    # shuffle back to one partition, re-serializing exactly the CPU
    # this exchange exists to spread (q296's signature chain profiled
    # as a string of 1-task stages). spread_for_cpu is a no-op when the
    # scan already carries enough partitions (the 100 TB case).
    spread = spread_for_cpu(df.select("doc_id", "text"), by=F.col("doc_id"))
    # Signatures via explode → md5 once per distinct shingle → groupBy
    # id with 16 affine MIN aggregates. Everything runs in
    # WholeStageCodegen — unlike the intra-row higher-order form
    # (with_minhash), whose aggregate lambdas evaluate interpreted
    # (measured ~6 s vs ~0.3 s for 5k docs at sf0.1). The groupBy
    # needs NO exchange: the explode/project chain preserves the
    # upstream hash partitioning on id. with_minhash stays the right
    # form when the signature must ride along as a column next to
    # other row data.
    norm = normalize_text(F.col("text"))
    base = (
        spread.select(F.col("doc_id").alias("__id"), norm.alias("__norm"))
        .withColumn("__toks", F.split(F.col("__norm"), " "))
    )
    shingles_sql = (
        f"CASE WHEN size(__toks) < 3 THEN array(__norm) "
        f"ELSE {shingle_chain_sql('__toks', 3)} END"
    )
    hashes = base.select(
        "__id", F.explode(F.array_distinct(F.expr(shingles_sql))).alias("__s")
    ).select("__id", F.pmod(md5_long(F.col("__s")), F.lit(MINHASH_P)).alias("__h"))
    coeffs = minhash_coeffs(16)
    # r13: the 16 affine MIN aggregates as SQL expression strings —
    # one py4j round trip each instead of ~6 Column-builder calls
    # (profiled at ~0.24 s of driver time PER minhash_band_signatures
    # call in q358's 12-month loop). Identical expressions: int
    # literals below 2³¹ parse as INT and promote against the BIGINT
    # __h exactly like F.lit did.
    sig = (
        hashes.groupBy("__id")
        .agg(
            *[
                F.expr(f"min(pmod({a} * __h + {b}, {MINHASH_P})) AS __m{i}")
                for i, (a, b) in enumerate(coeffs)
            ]
        )
        .select(
            F.col("__id").alias("doc_id"),
            F.array(*[f"__m{i}" for i in range(16)]).alias("minhash"),
        )
    )
    # Band slicing happens ABOVE a Generate(explode) whose generator is
    # a literal sequence: the Generate node is the barrier that stops
    # CollapseProject from inlining the 16-aggregate signature
    # expression into the per-band projection (an explode of a
    # transform-over-minhash lambda recomputes the signature per band —
    # measured 30x slower banding at sf0.1). The minhash array rides
    # through the explode as a plain column; each band row slices it.
    return (
        sig.select("doc_id", "minhash", F.explode(F.expr(f"sequence(0, {bands - 1})")).alias("band"))
        .select(
            "doc_id",
            "band",
            F.expr(
                f"array_join(transform(slice(minhash, band * {rows_per_band} + 1, {rows_per_band}), "
                f"x -> CAST(x AS STRING)), '_')"
            ).alias("sig"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    bands: int = 4,
    max_group: int = 1024,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding of ``doc_id``'s
    ``text`` (16 hashes over word 3-shingles).

    rows → (band, band-signature) keys → equi-join on identical band
    signature → distinct candidate pairs (a < b). The join key is the
    *hashed band slice*, so the shuffle moves only (id, band-hash)
    pairs — at 100 TB this is the only communication, and the band
    hash distributes uniformly (no skew) unless the corpus contains
    massive exact-duplicate classes (exact-dedup first remains the
    best medicine for those).

    ``max_group`` is the skew guard: a band bucket with g members
    implies g·(g-1)/2 pairs, and a 100k-member exact-duplicate class
    would otherwise expand ~5e9 pairs inside ONE task. Buckets up to
    ``max_group`` expand intra-row (zero extra cost — the common
    case); larger buckets are split into ≤``max_group``-sized chunks,
    fanned out as chunk-PAIR rows (the triangle (ci ≤ cj) of chunk
    combinations), re-spread across the cluster by an exchange that
    moves only chunk arrays (~2g²/max_group ids, not g² pairs), and
    expanded per chunk-pair — so no task ever materializes more than
    ``max_group``² pairs. Output is identical (pinned by test).
    """
    banded = minhash_band_signatures(df, bands)
    # Pair generation is a single groupBy on (band, sig) + intra-row
    # expansion of each bucket's sorted id list — NOT a self-join. One
    # shuffle, the signatures are computed exactly once, and nothing
    # needs .cache() (the r1 version cached `banded` for a two-branch
    # self-join and leaked the cache into the session).
    buckets = (
        banded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list(F.col("doc_id"))).alias("ids"))
        .filter(F.size("ids") >= 2)  # sequence(1, 0) would count DOWN
    )
    # Skew guard, single-path: split each bucket's SORTED id list into
    # ≤max_group chunks and emit one row per (ci ≤ cj) chunk
    # combination carrying just the two slices. A bucket within the cap
    # yields exactly one (0,0) row whose triangle expansion is the
    # plain intra-row expansion — so the common case pays only the
    # repartition below, while a g-member duplicate class fans out to
    # (g/cap)² rows that the exchange spreads across the cluster
    # (moving ~2g²/cap ids, never g²/2 pairs into one task). Chunking
    # a sorted list means every id in chunk ci < every id in chunk cj
    # for ci < cj, so cross-chunk pairs get the (a < b) invariant free.
    # A small/big two-branch union was measured and rejected: both
    # branches re-run the bucket aggregate (ReuseExchange shares only
    # the shuffle files), costing more than the repartition it saved.
    return _chunked_pair_expansion(buckets, ["band", "sig"], max_group).distinct()


def _chunked_cross_expansion(
    joined: DataFrame, max_group: int
) -> DataFrame:
    """Expand rows ``(ids_a, ids_b)`` — two DISJOINT sorted id arrays
    sharing a band bucket — into their full cross product of pairs,
    with per-task fan-out bounded by ``max_group``²: the cross-drop
    twin of :func:`_chunked_pair_expansion`. Both arrays are sliced
    into ≤``max_group`` chunks, one row per (ci, cj) chunk combination
    is emitted and re-spread by an AQE-opted-out exchange, and each
    row expands through two nested generators. The (id_a < id_b)
    output invariant is restored with least/greatest because drop ids
    are disjoint but not ordered across drops."""
    na = f"CAST(ceil(size(ids_a) / {max_group}.0) AS INT)"
    nb = f"CAST(ceil(size(ids_b) / {max_group}.0) AS INT)"
    chunk_expr = F.expr(
        f"flatten(transform(sequence(0, {na} - 1, 1), ci -> "
        f"transform(sequence(0, {nb} - 1, 1), cj -> named_struct("
        f"'a', slice(ids_a, ci * {max_group} + 1, {max_group}), "
        f"'b', slice(ids_b, cj * {max_group} + 1, {max_group})))))"
    )
    try:
        n_part = int(joined.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        n_part = joined.sparkSession.sparkContext.defaultParallelism
    return (
        joined.select(F.explode(chunk_expr).alias("c"))
        .repartition(n_part)
        .select(F.col("c.b").alias("b"), F.explode(F.col("c.a")).alias("x"))
        .select("x", F.explode(F.col("b")).alias("y"))
        .select(
            F.least("x", "y").alias("id_a"), F.greatest("x", "y").alias("id_b")
        )
    )


def incremental_lsh_pairs(
    new_sigs: DataFrame,
    store_sigs: DataFrame | None,
) -> DataFrame:
    """Near-dup candidate pairs INVOLVING a new drop, given the new
    drop's band signatures and the persisted signature store of every
    earlier drop — the incremental form of :func:`minhash_lsh_pairs`
    for a corpus that grows by periodic drops (the reference's own
    monthly-folder cadence, reference: src/etl/load.py:56-62, is
    exactly this shape; a 100 TB pipeline cannot re-sign the whole
    corpus per month).

    Emits new×new pairs (bucket expansion on the drop alone) plus
    new×store pairs (equi-join on ``(band, sig)`` against the store —
    at scale the store parquet is kept range-clustered on those
    columns via ``write_sorted_parquet``, so the join's store-side
    scan prunes to the band files the new drop actually touches).
    Store×store pairs are NOT re-emitted: they were produced when
    those drops were new, so unioning each drop's incremental output
    reproduces the one-shot full-corpus result exactly (oracle-gated
    by q296). Both expansion paths carry the 1024² per-task
    bound; the cross join's skew guard chunks BOTH sides, so a
    boilerplate band signature shared by g_store ∪ g_new docs fans
    out as (g_store/cap)·(g_new/cap) chunk rows, never g_store·g_new
    pairs in one task."""
    new_buckets = (
        new_sigs.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list(F.col("doc_id"))).alias("ids"))
    )
    new_new = _chunked_pair_expansion(
        new_buckets.filter(F.size("ids") >= 2), ["band", "sig"], 1024
    )
    if store_sigs is None:
        return new_new.distinct()
    store_buckets = (
        store_sigs.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list(F.col("doc_id"))).alias("ids"))
    )
    cross = _chunked_cross_expansion(
        new_buckets.withColumnRenamed("ids", "ids_a").join(
            store_buckets.withColumnRenamed("ids", "ids_b"), ["band", "sig"]
        ),
        1024,
    )
    return new_new.unionByName(cross).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_group: int = 4096,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index,
    skew-guarded, single-path.

    explode distinct shingles -> hash each shingle string to int64
    (xxhash64) -> ONE groupBy assembles each shingle's sorted posting
    list -> df=1 shingles (the overwhelming majority of a real
    vocabulary) are dropped before any expansion -> every surviving
    posting list goes through ``_chunked_pair_expansion`` (the shared
    guard of ``minhash_lsh_pairs``): per-task pair fan-out is bounded
    by ``max_group``² no matter how hot a shingle is, and a bucket
    within the cap costs one intra-row triangle. A single groupBy then
    sums one row per (pair, shared shingle) into the common-shingle
    count; Jaccard = common / (|A| + |B| - common), exact up to 64-bit
    shingle-hash collisions (P ~ n²/2⁶⁵ — the tolerance every
    MinHash-family system accepts).

    History (measured): v1 split cold shingles onto a self-equi-join
    (codegen) and only hot ones onto chunk expansion, because the
    then-interpreted higher-order-lambda expansion was 5-6x slower
    than the join. With the expansion rewritten as nested codegen
    generators, the split no longer pays: the join needed a separate
    df-count aggregate plus TWO passes over the (id, shingle) relation
    joined against it, where the single path needs ONE groupBy and
    kills the df=1 postings (most of the corpus) before expansion.
    At 40k docs with a df=4k hot shingle: 20.6s split-form vs 13.4s
    single-path; uniform sf0.1 corpus: no regression (bench-guarded).

    Scale: the posting-list array for a df=g shingle is 8g bytes in
    one aggregation buffer (df=10⁶ -> 8 MB, fine; df~10⁸ — a massive
    exact-duplicate class — would not be: run exact dedup first, the
    standing prescription for that corpus shape). Total work is still
    Σ_shingle df², inherent to exact-Jaccard-by-inverted-index; where
    that sum binds, use ``minhash_lsh_pairs`` + candidate
    verification.

    The exploded (id, shingle) relation feeds two consumers (doc
    sizes, posting lists), so it is persisted for the duration of this
    call; the small above-threshold output is sealed before it is
    unpersisted.
    """
    from pyspark import StorageLevel

    norm = normalize_text(F.col("text"))
    # pre-spread: small corpora scan as one partition; shingling +
    # hashing must not serialize onto a single task
    base = (
        spread_for_cpu(
            df.select(F.col("doc_id").alias("id"), norm.alias("__norm")),
            by=F.col("id"),
        )
        .withColumn("__toks", F.split(F.col("__norm"), " "))
    )
    shingles_sql = (
        f"CASE WHEN size(__toks) < 3 THEN array(__norm) "
        f"ELSE {shingle_chain_sql('__toks', 3)} END"
    )
    sh = (
        base.select(
            "id", F.explode(F.array_distinct(F.expr(shingles_sql))).alias("__shingle_str")
        )
        .select("id", F.xxhash64("__shingle_str").alias("shingle"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
        buckets = (
            sh.groupBy("shingle")
            .agg(F.array_sort(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        pairs = (
            _chunked_pair_expansion(buckets, ["shingle"], max_group)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
        # sizes is one small row per doc, but it descends from the
        # persisted `sh` so Catalyst has no stats and would sort-merge
        # the (potentially huge) pair stream through TWO shuffles.
        # Broadcast it explicitly: measured 188s -> 36s on a 100k-doc
        # corpus with a df=10k hot shingle. (At billions of docs the
        # doc-count map no longer broadcasts — swap for a bucketed
        # join keyed on id at that scale.)
        out = (
            pairs.join(
                F.broadcast(
                    sizes.withColumnRenamed("id", "id_a").withColumnRenamed(
                        "n_shingles", "na"
                    )
                ),
                "id_a",
            )
            .join(
                F.broadcast(
                    sizes.withColumnRenamed("id", "id_b").withColumnRenamed(
                        "n_shingles", "nb"
                    )
                ),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
        return seal(out)
    finally:
        sh.unpersist()


def embedding_near_dup_pairs(
    df: DataFrame,
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, optionally blocked.

    With ``block_col`` (e.g. a cluster/label id or an LSH bucket from
    ``knn.random_hyperplane_bucket``) the join is an equi-join within
    blocks; without it, a full cross join (small corpora only).
    """
    from owl_etl_spark.functions.similarity import cosine_sql

    a = df.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    b = df.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        *([F.col(block_col).alias("blk2")] if block_col else []),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        joined = a.join(b, (F.col("blk") == F.col("blk2")) & cond)
    else:
        joined = a.join(b, cond)
    return (
        joined.withColumn("cosine", F.round(cosine_sql("va", "vb"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster the
    embedding space (broadcast-literal centroids — k·dim driver state,
    map-only assignment), then compare cosines ONLY within clusters.

    The cluster equi-join bounds the pair space to Σ_c |c|² instead of
    N² — the published SemDeDup recipe (Abbas et al. 2023,
    arXiv:2303.09540) and the same blocking discipline as the LSH
    family. With k-means-sized clusters (N/k members) that is an N²/k
    reduction; skewed clusters are visible in the output's cluster_id
    and split by raising k.

    Returns (cluster_id, id_a, id_b, cosine) evidence pairs; compose
    with ``connected_components`` + keep-min-id for survivor
    selection.
    """
    from owl_etl_spark.operators.cluster import assign_clusters

    assigned = assign_clusters(df, centroids, round_digits=6)
    pairs = embedding_near_dup_pairs(
        assigned, block_col="cluster_id", threshold=threshold
    )
    blocks = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("cluster_id").alias("cluster_id")
    )
    return pairs.join(blocks, "id_a").select("cluster_id", "id_a", "id_b", "cosine")


def _label_ids(ids: DataFrame, id_col: str, mapping: DataFrame) -> DataFrame:
    """``(id_col, component)`` for every id: the ``(node, root)``
    mapping's root, or the id itself when it has no row (no edge)."""
    return seal(
        ids.select(F.col(id_col).alias("node"))
        .join(mapping, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("root"), F.col("node")).alias("component"),
        )
    )


def _driver_components(
    edge_rows: list, ids: DataFrame, id_col: str, ntyp: str
) -> DataFrame:
    """Exact driver union-find over collected ``(u, v)`` edges. Union
    by ``parent[max] = min`` keeps every root the minimum of its
    component, so each node's root is the min reachable id — the
    contract both distributed variants converge to. The mapping is a
    literal ``(node, root)`` frame of type ``ntyp``; the ids join stays
    in Spark."""
    parent: dict = {}

    def _find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        a, b = _find(u), _find(v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    mapping = literal_frame(
        ids.sparkSession,
        sorted((node, _find(node)) for node in parent),
        f"node {ntyp}, root {ntyp}",
    )
    return _label_ids(ids, id_col, mapping)


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 10,
    strict: bool = True,
) -> DataFrame:
    """Connected components over a similarity-pair edge list:
    (id, component) where component = min id reachable.

    Iterative min-label propagation: each round joins labels across
    edges (both directions) and keeps the per-node minimum; stops when
    a round changes nothing. Rounds needed = graph diameter in the
    worst case — near-dup graphs are shallow (dup clusters are cliques
    or short chains), so this converges in 2-3 rounds in practice.

    Each iteration: one join + one groupBy (2 shuffles) on the PAIR
    list, not the corpus — edges are sparse after LSH + verification;
    the label frame the loop carries holds EDGE ENDPOINTS only (nodes
    with no edge can never change their label — they rejoin as
    self-labeled singletons in the final left join), so a round never
    shuffles corpus-sized rows. Edge endpoints must be drawn from
    ``ids`` (true of every caller: pairs are built from the same
    frame); a foreign endpoint would propagate labels but be dropped
    from the output.

    Scale notes:
    - ``labels`` runs through ``session.iterate``, sealed every round,
      so each round's convergence count executes only that round's
      join.
    - ``edges`` is consumed once per round; sealing it computes the
      pair list once.
    - ``strict=True`` raises if the loop exhausts ``max_iters`` while
      labels are still changing — a truncated result is NOT a valid
      clustering and must never be silently returned (ADVICE r1).
    """
    with sealed(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    ) as edges:
        # exact driver replay when model-sized (session.bounded_collect)
        rows = bounded_collect(edges)
        if rows is not None:
            ntyp = dict(ids.select(F.col(id_col)).dtypes)[id_col]
            return _driver_components(rows, ids, id_col, ntyp)
        # Width the loop to the EDGE COUNT, not the upstream partitioning
        # (r12, guide §2.6/§1): the no-shuffle union doubles the pair
        # frame's partitions, so a small dup graph inherited ~2×scan-width
        # near-empty partitions and every round paid that many tasks of
        # pure serialization churn (profiled: 64-task stages over 0.1 MB).
        # At scale ceil(n/4M) keeps ~4M edges per task — the clamp leaves
        # big graphs at their natural width; the coalesce reads the seal.
        n_edges = edges.count()
        cur_parts = edges.rdd.getNumPartitions()
        want = max(1, min(cur_parts, -(-n_edges // 4_000_000)))
        if want < cur_parts:
            edges = edges.coalesce(want)
        # Iterate labels over EDGE ENDPOINTS only (r12, guide §2.3): a node
        # with no edge can never change its label, so carrying the full
        # ``ids`` frame through every round shuffled corpus-sized rows for
        # nothing — on a sparse dup graph the endpoint set is orders of
        # magnitude smaller than the corpus. Non-endpoint ids rejoin as
        # self-labeled singletons in the final left join (unchanged).
        labels0 = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("component"))
        )

        def _round(labels: DataFrame, _: int) -> DataFrame:
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("component").alias("n_comp"))
            )
            least = F.least(
                F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
            )
            return labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
                "node", least.alias("component"), (least != F.col("component")).alias("__moved")
            )

        moved = []

        def _settled(labels: DataFrame) -> bool:
            moved.append(labels.filter(F.col("__moved")).limit(1).count())
            return moved[-1] == 0

        labels = iterate(labels0, _round, max_iters, stop=_settled)
        try:
            if not moved or moved[-1]:  # no round ran, or the last moved a label
                msg = (
                    f"connected_components did not converge within max_iters={max_iters}; "
                    "the graph diameter exceeds the iteration budget and the labels are "
                    "truncated mid-propagation. Raise max_iters."
                )
                if strict:
                    raise RuntimeError(msg)
                import warnings

                warnings.warn(msg, RuntimeWarning, stacklevel=2)
            # Non-endpoint ids (no edges — their label can never move)
            # rejoin here as self-labeled singletons.
            return _label_ids(
                ids, id_col, labels.select("node", F.col("component").alias("root"))
            )
        finally:
            if labels is not labels0:
                release(labels)


def dedup_segments(df: DataFrame) -> DataFrame:
    """Cross-document SEGMENT-level exact dedup (the C4/RefinedWeb
    "remove lines repeated across the corpus" pass, generalized to
    fixed 8-token segments for corpora without line
    structure): drop every segment that occurs in more than 2
    distinct documents, reassemble the survivors in order.

    Whole-document dedup misses boilerplate — headers, footers,
    license blurbs, navigation chrome — that repeats across otherwise
    distinct documents; segment-level df filtering removes exactly
    that. Output: one row per input doc with ``clean_text`` (surviving
    segments joined in original order; empty when everything was
    boilerplate), ``n_segments``, ``n_dropped``.

    Plan shape at scale: posexplode of an intra-row chunking expr (no
    shuffle) → one groupBy on the segment's xxhash64 (the df count;
    8-byte shuffle keys, partial aggregation folds per-map duplicates)
    → hash equi-join back → one groupBy on doc id with an
    ``array_sort(collect_list(struct(pos, seg)))`` reassembly. The
    reassembly group carries only the doc's own segments — no window,
    no global sort. Exact up to 64-bit segment-hash collisions (the
    documented engine-wide tolerance).
    """
    toks = F.split(F.col("text"), " ")
    nseg_expr = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    base = df.select(
        F.col("doc_id").alias("__id"),
        toks.alias("__toks"),
        nseg_expr.alias("__nseg"),
    )
    segs = base.select(
        "__id",
        "__nseg",
        F.posexplode(
            F.expr(
                "transform(sequence(0, __nseg - 1), "
                "i -> array_join(slice(__toks, i * 8 + 1, 8), ' '))"
            )
        ).alias("pos", "seg"),
    )
    freq = (
        segs.select(F.xxhash64("seg").alias("h"), "__id")
        .groupBy("h")
        .agg(F.count_distinct(F.col("__id")).alias("df"))
    )
    kept = (
        segs.join(freq, F.xxhash64(segs["seg"]) == freq["h"])
        .filter(F.col("df") <= 2)
        .select("__id", "pos", "seg")
    )
    reassembled = kept.groupBy("__id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, seg))), x -> x.seg)"),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    return (
        base.select("__id", "__nseg")
        .join(reassembled, "__id", "left")
        .select(
            F.col("__id").alias("doc_id"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("__nseg").cast("long").alias("n_segments"),
            (F.col("__nseg") - F.coalesce(F.col("__kept"), F.lit(0))).cast("long").alias(
                "n_dropped"
            ),
        )
    )


def connected_components_star(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 12,
    strict: bool = True,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — same output contract as ``connected_components``
    (component = min reachable id, pinned equal by test), different
    convergence law: O(log² n) rounds on ANY graph shape vs
    min-label's diameter-many rounds.

    Use this when dup graphs may be DEEP (long chains of pairwise-
    similar docs — e.g. near-dup chains across document revisions)
    rather than the shallow cliques LSH typically produces; min-label
    stays the cheaper default for clique-shaped dup graphs (r2 VERDICT
    next-#7).

    Per round: large-star hangs every larger neighbor of u onto u's
    minimum neighbor (keeps components, shrinks long tails onto local
    minima); small-star re-hangs the smaller neighbors. Both compute
    the per-u minimum as a WINDOW aggregate sharing the phase's one
    exchange (sort-based, streaming — no per-node buffers, so
    giant-component hubs are safe; the pre-r12 groupBy+join form paid
    an extra broadcast build + join per phase per round); the edge set
    runs through ``session.iterate``, sealed every round. Convergence = the
    small-star round leaves the edge set unchanged (count + order-free
    xxhash64 checksum — one cheap agg);
    the converged edge set is exactly the star (child → component-min)
    mapping. ``strict=True`` raises on non-convergence like
    ``connected_components`` (a truncated contraction is not a valid
    clustering).
    """

    def _canon(e: DataFrame) -> DataFrame:
        # canonical undirected edge (lo, hi), no self-loops, distinct
        return (
            e.select(
                F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )

    def _checksum(e: DataFrame) -> tuple[int, int]:
        # bit_xor: order-free AND overflow-free (sum(xxhash64) would
        # trip ANSI long-overflow); edges are distinct so xor+count
        # uniquely fingerprints the set up to hash collisions
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(lo, hi))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    with sealed(
        _canon(pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    ) as edges:
        # exact driver replay when model-sized (session.bounded_collect)
        rows = bounded_collect(edges)
        if rows is not None:
            return _driver_components(rows, ids, id_col, dict(edges.dtypes)["lo"])

        def _round(cur: DataFrame, _: int) -> DataFrame:
            bidir = cur.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
                cur.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            )
            # LARGE-STAR: for each u, m = min(N(u) ∪ {u}); emit (v, m)
            # for all neighbors v > u. The per-u min is a WINDOW
            # aggregate over the same rows (r12, guide §2.4): the old
            # groupBy(min) + join-back added a broadcast build + join
            # per phase per round; the window shares the one exchange,
            # streams (sort-based, spills — no per-node buffers, so
            # giant-component hubs stay safe), and emits the identical
            # pair multiset.
            wu = Window.partitionBy("u")
            large = _canon(
                bidir.withColumn("mv", F.min("v").over(wu))
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("src"), F.least("u", "mv").alias("dst"))
            )
            # SMALL-STAR: for each u over its ≤-neighbors v < u,
            # m = min(N<(u)); emit (v, m) and (u, m).
            smaller = large.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            return _canon(
                smaller.withColumn("mv", F.min("v").over(wu))
                .select(
                    F.explode(
                        F.array(
                            F.struct(F.col("v").alias("src"), F.col("mv").alias("dst")),
                            F.struct(F.col("u").alias("src"), F.col("mv").alias("dst")),
                        )
                    ).alias("e")
                )
                .select("e.src", "e.dst")
            )

        sigs = [_checksum(edges)]

        def _settled(cur: DataFrame) -> bool:
            sigs.append(_checksum(cur))
            return sigs[-1] == sigs[-2]

        cur = iterate(edges, _round, max_iters, stop=_settled)
        try:
            converged = len(sigs) > 1 and sigs[-1] == sigs[-2]
            if not converged:
                msg = (
                    f"connected_components_star did not converge within max_iters={max_iters}; "
                    "star contraction incomplete — labels would be truncated. Raise max_iters."
                )
                if strict:
                    raise RuntimeError(msg)
                import warnings

                warnings.warn(msg, RuntimeWarning, stacklevel=2)
            # Converged edges are (component-min, member) stars: each node
            # appears as `hi` exactly once. An UNCONVERGED edge set is not
            # a star — a node can still be `hi` in several edges — so the
            # non-strict path reduces to one (node, min root) row first;
            # labels may still be truncated (per the warning above) but
            # the output is well-formed (one row per node).
            mapping = cur.select(F.col("hi").alias("node"), F.col("lo").alias("root"))
            if not converged:
                mapping = mapping.groupBy("node").agg(F.min("root").alias("root"))
            return _label_ids(ids, id_col, mapping)
        finally:
            if cur is not edges:
                release(cur)


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Exploded winnowing fingerprint set: one (id, fingerprint) row
    per distinct selected hash (Schleimer et al. local fingerprinting:
    8-gram rolling hashes min-sampled over windows of 4).

    Computed intra-row (higher-order functions over the normalized
    text) then exploded — the only shuffle is whatever the caller
    joins on. md5-prefix integer hashes keep it oracle-portable.
    """
    base = df.select(
        F.col("doc_id"), normalize_text(F.col("text")).alias("__s")
    ).filter(F.length("__s") >= 12)
    fps = (
        "array_distinct(transform(sequence(1, greatest(length(__s) - 10, 1)), "
        "i -> array_min(transform(sequence(i, i + 3), "
        "j -> CAST(conv(substring(md5(substring(__s, j, 8)), 1, 15), 16, 10) AS BIGINT)))))"
    )
    return base.select("doc_id", F.explode(F.expr(fps)).alias("fingerprint"))


def containment_pairs(df: DataFrame) -> DataFrame:
    """Substring-containment near-dup pairs — the winnowing analog of
    exact-substring dedup (the RefinedWeb/Dolma suffix-array step,
    re-expressed with the fingerprint primitive Spark can distribute).

    For an ordered pair (inner, outer):
    ``containment = |fp(inner) ∩ fp(outer)| / |fp(inner)|``.
    A document whose text is (mostly) a substring of another shares
    (mostly) all of its winnowing fingerprints, so containment → 1
    even when the outer doc is much longer — exactly the asymmetry
    Jaccard misses (a 100-word doc inside a 10k-word doc has tiny
    Jaccard but containment ≈ 1).

    Candidate generation is the fingerprint inverted-index join —
    Σ_fp df² fan-out, the same discipline and caveat as
    ``ngram_jaccard_pairs`` (winnowing already thins postings ~1/window
    vs raw k-grams; for Zipfian corpora compose with LSH blocking
    first). Output: (inner_id, outer_id, containment), both directions
    when both clear the 0.8 threshold.
    """
    fps = winnow_fingerprints(df)
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n"))
    common = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("inner_id"),
            F.col("b.doc_id").alias("outer_id"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "inner_id"), "inner_id")
        .withColumn("containment", F.round(F.col("__c") / F.col("__n"), 6))
        .filter(F.col("containment") >= 0.8)
        .select("inner_id", "outer_id", "containment")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop training docs that share ≥ 3
    winnowing fingerprints with any benchmark doc.

    Returns ``(clean, contaminated)``; ``contaminated`` carries
    ``n_shared`` (distinct shared fingerprints) as evidence. The
    benchmark fingerprint set is distinct-projected to one column
    before the join — benchmarks are small relative to the corpus, so
    with AQE the equi-join broadcasts; the corpus side streams
    through map-side. This is the standard eval-leakage guard in
    LLM-training pipelines (the n-gram-overlap method), built from
    the same fingerprint primitive as the near-dup operators.
    """
    doc_fp = winnow_fingerprints(docs)
    bench_fp = (
        winnow_fingerprints(benchmark)
        .select("fingerprint")
        .distinct()
    )
    hits = (
        doc_fp.join(bench_fp, "fingerprint")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    contaminated = docs.join(hits, "doc_id")
    clean = docs.join(hits.select("doc_id"), "doc_id", "left_anti")
    return clean, contaminated


def incremental_components(
    store_labels: DataFrame,
    new_pairs: DataFrame,
    new_ids: DataFrame,
    max_iters: int = 10,
) -> DataFrame:
    """Connected components maintained INCREMENTALLY across drops —
    the graph member of the incremental trilogy (q296 persists LSH
    signatures, q303 an ANN index, this the component labels): given
    the persisted ``(node, component)`` labels of every earlier drop
    and the candidate pairs INVOLVING the new drop
    (:func:`incremental_lsh_pairs`' output — new×new plus new×store),
    produce labels for store ∪ new WITHOUT re-walking the historical
    edge set.

    The contraction argument that makes it exact: each stored
    component is collapsed to a super-node named by its label (= its
    min member id), new-drop docs are their own super-nodes, and the
    new pairs are re-keyed through that mapping. Connectivity over
    {contracted new pairs} equals connectivity over {all pairs} after
    contraction, and since every label is the min id of its part,
    min-label components over the contracted graph recover exactly the
    global min per merged component — so incremental ≡ one-shot
    bit-for-bit (oracle-gated by q311 against q98's full recursive-CTE
    recompute).

    At 100 TB the point is the cost shape: the min-label loop runs on
    the CONTRACTED graph — one super-node per touched historical
    component, never the historical corpus — and the only full-width
    touch of the store is the final label-to-root broadcast-size join.
    ``store_labels`` and ``new_ids`` must be disjoint node sets (drops
    don't overlap).
    """
    store = store_labels.select(
        F.col("doc_id").alias("__node"), F.col("component").alias("__label")
    )
    amap = store.select(
        F.col("__node").alias("id_a"), F.col("__label").alias("__la")
    )
    bmap = store.select(
        F.col("__node").alias("id_b"), F.col("__label").alias("__lb")
    )
    contracted = (
        new_pairs.join(amap, "id_a", "left")
        .join(bmap, "id_b", "left")
        .select(
            F.coalesce(F.col("__la"), F.col("id_a")).alias("__ca"),
            F.coalesce(F.col("__lb"), F.col("id_b")).alias("__cb"),
        )
        .filter(F.col("__ca") != F.col("__cb"))
        .select(
            F.least("__ca", "__cb").alias("id_a"),
            F.greatest("__ca", "__cb").alias("id_b"),
        )
        .distinct()
    )
    cnodes = (
        store.select(F.col("__label").alias("doc_id"))
        .distinct()
        .unionByName(new_ids.select(F.col("doc_id")))
    )
    roots = connected_components(contracted, cnodes, max_iters=max_iters)
    rmap = roots.select(
        F.col("doc_id").alias("__label"), F.col("component").alias("__root")
    )
    out_store = store.join(rmap, "__label").select(
        F.col("__node").alias("doc_id"), F.col("__root").alias("component")
    )
    out_new = (
        new_ids.select(F.col("doc_id"))
        .join(
            roots.select(F.col("doc_id"), F.col("component")),
            "doc_id",
        )
    )
    return out_store.unionByName(out_new)


def cross_doc_gram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_chars: int = 32,
    max_chars: int = 512,
    min_docs: int = 2,
) -> DataFrame:
    """EXACT substring-level duplication coverage — the all-position
    sliding k-gram analysis behind suffix-array substring dedup (Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"), re-expressed as distributed relational algebra: every
    overlapping ``gram_chars``-char window of each document (stride
    1 — unlike ``winnow_fingerprints``' sampled minima or
    ``dedup_segments``' fixed chunks, NO alignment is assumed and no
    position can hide), a corpus-wide document-frequency count per
    gram, and per document the number of positions whose gram also
    occurs in ≥ ``min_docs`` distinct documents plus the exact number
    of characters covered by the union of those duplicated windows
    (the interval-union closed form: for consecutive duplicated
    positions p_j < p_{j+1}, coverage contributes min(p_{j+1} - p_j,
    gram_chars), plus gram_chars for the last — no gaps-and-islands
    scan needed).

    Output: one row per input doc — ``n_grams`` (positions analyzed),
    ``n_dup_positions``, ``covered_chars``. ``covered_chars /
    length`` is the RefinedWeb-style "fraction of the document that
    is corpus-duplicated text" signal that drives span removal or
    doc-level filtering.

    Plan shape at scale: intra-row ``transform(sequence(...))`` gram
    expansion + posexplode (no shuffle) → one groupBy on
    ``xxhash64(gram)`` (8-byte shuffle keys, partial agg folds
    per-map duplicates) → hash join back → a per-doc window (lead)
    over at most ``max_chars`` rows per doc → one groupBy on doc id.
    ``max_chars`` bounds the expansion to O(max_chars) rows per doc
    regardless of document size — analyze heads, or raise it and pay
    linearly. Exact up to 64-bit gram-hash collisions (the documented
    engine-wide tolerance).
    """
    base, dups = _gram_dup_positions(
        df, id_col, text_col, gram_chars, max_chars, min_docs
    )
    win = Window.partitionBy("__id").orderBy("__i")
    covered = (
        dups.withColumn("__nxt", F.lead("__i").over(win))
        .withColumn(
            "__cov",
            F.when(
                F.col("__nxt").isNull(), F.lit(gram_chars)
            ).otherwise(F.least(F.col("__nxt") - F.col("__i"), F.lit(gram_chars))),
        )
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__ndup"),
            F.sum("__cov").cast("long").alias("__cov_chars"),
        )
    )
    return (
        base.select("__id", "__n")
        .join(covered, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__n").cast("long").alias("n_grams"),
            F.coalesce(F.col("__ndup"), F.lit(0)).cast("long").alias("n_dup_positions"),
            F.coalesce(F.col("__cov_chars"), F.lit(0)).cast("long").alias("covered_chars"),
        )
    )


def _gram_dup_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_chars: int,
    max_chars: int,
    min_docs: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the substring-duplication operators: ``base``
    (one row per doc: __id, __t truncated head, __n gram positions)
    and ``dups`` (one row per duplicated gram position: __id, __i
    1-based start) — stride-1 sliding grams, corpus-wide document
    frequency on xxhash64(gram), positions whose gram occurs in
    ≥ ``min_docs`` distinct documents."""
    if gram_chars < 1 or max_chars < gram_chars:
        raise ValueError("need 1 <= gram_chars <= max_chars")
    head = F.expr(f"substring({text_col}, 1, {max_chars})")
    base = df.select(
        F.col(id_col).alias("__id"),
        head.alias("__t"),
        F.greatest(F.lit(0), F.length(head) - F.lit(gram_chars - 1))
        .cast("int")
        .alias("__n"),
    )
    grams = base.filter(F.col("__n") > 0).select(
        "__id",
        F.posexplode(
            F.expr(f"transform(sequence(1, __n), i -> substring(__t, i, {gram_chars}))")
        ).alias("__pos0", "__gram"),
    )
    freq = (
        grams.select(F.xxhash64("__gram").alias("__h"), "__id")
        .groupBy("__h")
        .agg(F.count_distinct("__id").alias("__df"))
    )
    dups = (
        grams.join(freq, F.xxhash64(grams["__gram"]) == freq["__h"])
        .filter(F.col("__df") >= min_docs)
        .select("__id", (F.col("__pos0") + 1).alias("__i"))
    )
    return base, dups


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_chars: int = 32,
    max_chars: int = 512,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level span REMOVAL — the action step of
    suffix-array substring dedup (Lee et al. 2022 remove the
    duplicated spans, not the documents): merge each document's
    duplicated gram windows into maximal spans (gaps-and-islands:
    position i starts a new span iff i > lag(i) + gram_chars — with
    fixed-width windows the previous position's end IS the running
    max end, so one lag() suffices) and stitch the surviving text
    back together with one intra-row ``aggregate`` over the span
    array (no second shuffle for the reassembly — unlike
    ``dedup_segments``' collect-and-sort, the spans per doc arrive
    pre-merged and the stitch walks the original string).

    Output: one row per input doc — ``n_spans``, ``removed_chars``,
    ``clean_text`` (the document head with every corpus-duplicated
    span excised; docs with no duplication pass through verbatim).
    Only the first ``max_chars`` chars are analyzed AND returned —
    the operator contract is "clean the analyzed head", keeping the
    expansion O(max_chars) per doc at 100 TB.

    Plan shape: the shared gram/df core (one groupBy + one join) →
    per-doc lag window → span groupBy → collect_list of at most
    max_chars/gram_chars spans per doc → one intra-row aggregate()
    stitch. Exact up to 64-bit gram-hash collisions.
    """
    base, dups = _gram_dup_positions(
        df, id_col, text_col, gram_chars, max_chars, min_docs
    )
    win = Window.partitionBy("__id").orderBy("__i")
    spans = (
        dups.withColumn("__prev", F.lag("__i").over(win))
        .withColumn(
            "__start_flag",
            F.when(
                F.col("__prev").isNull()
                | (F.col("__i") > F.col("__prev") + F.lit(gram_chars)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__island",
            F.sum("__start_flag").over(
                win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("__id", "__island")
        .agg(
            F.min("__i").alias("__s"),
            (F.max("__i") + F.lit(gram_chars)).alias("__e"),  # exclusive end
        )
    )
    per_doc = spans.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("__nspans"),
        F.sum(F.col("__e") - F.col("__s")).cast("long").alias("__removed"),
        F.expr("array_sort(collect_list(struct(__s AS s, __e AS e)))").alias("__spans"),
    )
    stitch = F.expr(
        "concat("
        "  aggregate(__spans,"
        "            named_struct('pos', 1, 'acc', CAST('' AS STRING)),"
        "            (a, sp) -> named_struct("
        "                'pos', CAST(sp.e AS INT),"
        "                'acc', concat(a.acc, substring(__t, a.pos, sp.s - a.pos))),"
        "            a -> a.acc),"
        "  substring(__t,"
        "            aggregate(__spans, 1, (p, sp) -> CAST(sp.e AS INT)),"
        f"           {max_chars + 1}))"
    )
    return (
        base.join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("__nspans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("__removed"), F.lit(0)).cast("long").alias("removed_chars"),
            F.when(F.col("__nspans").isNull(), F.col("__t"))
            .otherwise(stitch)
            .alias("clean_text"),
        )
    )
