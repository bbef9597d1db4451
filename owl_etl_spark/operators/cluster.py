"""K-means clustering over embedding columns (Lloyd iterations) and
IVF-style ANN built on it.

The iterative-algorithm pattern on Spark: per iteration, one
assignment pass (broadcast centroids → argmin distance, map-only) and
one centroid update (groupBy cluster → vector mean, one shuffle of
dim-sized partial sums). Centroids live driver-side between iterations
(k·dim doubles — trivially small); the DATA never leaves executors.

This is the bucketing path for similarity search at 100 TB: cluster
once, store ``cluster_id`` as a column (or partition), and restrict
query probes to the nearest few centroids (IVF) — the same shape as
``knn.lsh_knn`` but with data-adaptive buckets.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from owl_etl_spark.functions.similarity import cosine_sql


def _sqdist_fold(vd_expr: str, center: np.ndarray, round_digits: int | None) -> str:
    """Squared-L2 of an array<double> expression against one centroid
    literal — the engine's fixed-order left fold (zip_with +
    aggregate), IEEE-deterministic on any engine/partitioning."""
    arr = ", ".join(f"{float(v)!r}D" for v in center)
    d = (
        f"aggregate(zip_with({vd_expr}, array({arr}), "
        f"(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
    )
    return f"round({d}, {round_digits})" if round_digits is not None else d


def _argmin_sql(darr_col: str) -> str:
    """First index (0-based INT) holding the minimum of a distance
    array COLUMN. ``array_position(a, array_min(a))`` matches the
    first element equal to the min under SQL ``=`` — exactly the
    semantics of the old ``CASE WHEN least(d0..dk)=(dc) THEN c``
    chain (lowest index wins ties; -0.0 = 0.0 both paths), but each
    distance is evaluated ONCE instead of O(k) times per branch: the
    higher-order folds run on the interpreted path, so the CASE form
    cost O(k²) interpreted fold evaluations per row (profiled as the
    single-task encode wall in q105/q118/q303)."""
    return f"CAST(array_position({darr_col}, array_min({darr_col})) - 1 AS INT)"


def centroids_from_ids(
    df: DataFrame, ids: list[int]
) -> np.ndarray:
    """Pinned centroids: the embedding rows with the given ids, ordered
    by id (cluster_id = position in ``ids`` sorted). Deterministic and
    recomputable by any engine — the oracle-portable alternative to
    ``kmeans_fit`` for IVF demos/tests. Collects k rows (k·dim driver
    state, same footprint as fitted centroids)."""
    rows = (
        df.filter(F.col("vec_id").isin(ids))
        .select(F.col("vec_id").alias("i"), F.col("embedding").alias("v"))
        .orderBy("i")
        .collect()
    )
    if len(rows) != len(ids):
        raise ValueError(f"expected {len(ids)} centroid rows, got {len(rows)}")
    return np.array([list(r.v) for r in rows], dtype=float)


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_iters: int = 5,
    dim: int = 64,
) -> np.ndarray:
    """Lloyd's algorithm; returns (k, dim) centroids.

    Init: deterministic sample (first k by an md5 hash of the vector —
    seed-stable without a data scan order dependency). Each iteration
    is one Spark job: assignment (map) + per-cluster mean (shuffle of
    k·dim partials via Summarizer-style agg on array columns).
    """
    # Hash is MATERIALIZED as a column before the orderBy+limit:
    # TakeOrderedAndProject evaluates its ordering expressions inside
    # the heap comparator (interpreted, once per comparison), so
    # sorting directly by the md5 EXPRESSION re-ran the whole
    # cast-to-strings+md5 chain O(n log k) times — 17x slower at 20k
    # rows (r6 bench: this was most of pq_fit_s/kmeans_fit_s).
    sample = (
        df.select(F.col(vec_col).alias("v"))
        .withColumn("__h", F.md5(F.concat_ws(",", F.col("v").cast("array<string>"))))
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    centroids = np.array([list(r.v) for r in sample], dtype=float)
    if centroids.shape[0] < k:
        raise ValueError(f"need at least k={k} vectors, got {centroids.shape[0]}")

    for _ in range(max_iters):
        # staged-column assignment (see assign_clusters): the cast
        # vector is computed once and reused as the mean input
        darr = "array(" + ", ".join(
            _sqdist_fold("__vd", centroids[c], None) for c in range(k)
        ) + ")"
        assigned = (
            df.withColumn(
                "__vd", F.expr(f"transform({vec_col}, v -> CAST(v AS DOUBLE))")
            )
            .withColumn("__d", F.expr(darr))
            .select(
                F.expr(_argmin_sql("__d")).alias("cluster"),
                F.col("__vd").alias("v"),
            )
        )
        # per-cluster element-wise sum + count: aggregate arrays with
        # zip_with inside a reduce-style agg — k·dim doubles move, not data
        agg = (
            assigned.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.array(*[F.sum(F.element_at("v", i + 1)) for i in range(dim)]).alias("sums"),
            )
            .collect()
        )
        new = centroids.copy()
        for row in agg:
            new[row.cluster] = np.array(row.sums) / row.n
        if np.allclose(new, centroids, atol=1e-9):
            centroids = new
            break
        centroids = new
    return centroids


def assign_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    round_digits: int | None = None,
) -> DataFrame:
    """Attach ``cluster_id`` of the ``embedding`` column — map-only,
    broadcast-by-literal.

    Staged-column form (r12, guide §4.1): the cast vector and the
    k-distance array are materialized as intermediate Project columns
    (multi-referenced non-cheap expressions, so CollapseProject keeps
    them), which means each interpreted higher-order fold runs ONCE
    per row — the old single-CASE expression re-evaluated every fold
    per branch, O(k²) per row."""
    k, _dim = centroids.shape
    darr = "array(" + ", ".join(
        _sqdist_fold("__ac_vd", centroids[c], round_digits) for c in range(k)
    ) + ")"
    return (
        df.withColumn(
            "__ac_vd", F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")
        )
        .withColumn("__ac_d", F.expr(darr))
        .withColumn("cluster_id", F.expr(_argmin_sql("__ac_d")))
        .drop("__ac_vd", "__ac_d")
    )


def ivf_knn(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probes: int = 2,
    round_digits: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are probed only in the
    ``n_probes`` clusters nearest to each query.

    probe assignment is the same argmin expression ranked to n_probes;
    the candidate join is an equi-join on cluster_id. Recall rises with
    n_probes (== brute force at n_probes=k_clusters). ``round_digits``
    rounds centroid distances before argmin/probe ranking (ties →
    lowest cluster_id) so the candidate set is engine-portable."""
    index = assign_clusters(corpus, centroids, round_digits=round_digits)
    return ivf_knn_preassigned(queries, index, centroids, k, n_probes, round_digits=round_digits)


def ivf_knn_preassigned(
    queries: DataFrame,
    index: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probes: int = 2,
    round_digits: int | None = None,
) -> DataFrame:
    """:func:`ivf_knn` over an ALREADY-ASSIGNED index frame
    (``vec_id``, ``embedding``, ``cluster_id``) — the search half of the
    incremental-index pipeline: because assignment is a pure function
    of (vector, pinned centroids), a corpus that arrives in drops can
    be assigned drop-by-drop, each drop's rows appended to a persisted
    store clustered on cluster_id (``write_sorted_parquet``), and the
    union searched here without ever re-assigning history — searching
    an incrementally-built index is EXACTLY equivalent to a full
    rebuild (oracle-gated by q303, the ANN twin of q296's
    incremental-dedup law). At 100 TB the store's cluster_id
    clustering means each query's probe equi-join prunes its scan to
    the probed clusters' row groups.
    """
    kc = centroids.shape[0]
    c = index.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "cluster_id"
    )
    # per-query distances to each centroid → explode top n_probes
    dist_structs = []
    for ci in range(kc):
        arr = ", ".join(f"{float(v)!r}D" for v in centroids[ci])
        d = (
            f"aggregate(zip_with(transform(embedding, v -> CAST(v AS DOUBLE)), array({arr}), "
            f"(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        )
        if round_digits is not None:
            d = f"round({d}, {round_digits})"
        dist_structs.append(f"named_struct('cluster_id', {ci}, 'd', {d})")
    probes = (
        f"transform(slice(array_sort(array({', '.join(dist_structs)}), "
        f"(a, b) -> CASE WHEN a.d < b.d THEN -1 WHEN a.d > b.d THEN 1 ELSE 0 END), 1, {n_probes}), "
        f"p -> p.cluster_id)"
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.explode(F.expr(probes)).alias("cluster_id"),
    )
    scored = (
        c.join(F.broadcast(q), "cluster_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cosine_sql("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pq_codebooks_from_ids(
    df: DataFrame,
    ids: list[int],
    m: int = 4,
) -> np.ndarray:
    """Product-quantization codebooks pinned to embedding rows:
    (m, ks, dim/m) — block b's codebook is the b-th sub-vector of each
    pinned row. Same oracle-portability trick as
    ``centroids_from_ids`` (fitted codebooks via ``kmeans_fit`` per
    block stay the production path; only pinned ones can hash-match an
    oracle)."""
    full = centroids_from_ids(df, ids)  # (ks, dim)
    ks, dim = full.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return full.reshape(ks, m, sub).transpose(1, 0, 2)


def pq_codebooks_fit(
    df: DataFrame,
    ks: int = 16,
    dim: int = 64,
    max_iters: int = 5,
    sample_rows: int | None = 10_000,
) -> np.ndarray:
    """Product-quantization codebooks FITTED per block — the
    production path (pinned ``pq_codebooks_from_ids`` exists only for
    oracle portability). Returns (m, ks, dim/m) for m = 4 blocks.

    Fitting runs per-block Lloyd's over a HASH-DETERMINISTIC SAMPLE of
    ``sample_rows`` vectors collected to the driver (one
    TakeOrderedAndProject job; ~5 MB at 10k × 64 doubles), then pure
    numpy — standard PQ practice: codebook quality saturates around
    ~1k samples per centroid, while a full-corpus fit re-scans the
    data m × max_iters times for no quality gain (the r5 bench showed
    23–28 s of the clustered-ANN scenario was exactly this). The
    sample order is md5-of-content (seed-free,
    partition-order-independent), so the fit is deterministic for a
    given corpus. ``sample_rows=None`` keeps the old distributed
    per-block ``kmeans_fit`` path (every iteration scans the corpus)."""
    m = 4
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    if sample_rows is None:
        books = []
        for b in range(m):
            block = df.select(
                F.expr(
                    f"transform(slice(embedding, {b * sub + 1}, {sub}), "
                    f"v -> CAST(v AS DOUBLE))"
                ).alias("__subv")
            )
            books.append(
                kmeans_fit(block, vec_col="__subv", k=ks, max_iters=max_iters, dim=sub)
            )
        return np.stack(books)

    # Materialized hash column before orderBy+limit — see kmeans_fit:
    # sorting by the raw expression re-evaluates it per heap
    # comparison inside TakeOrderedAndProject (17x at 20k rows).
    rows = (
        df.select(
            F.expr("transform(embedding, v -> CAST(v AS DOUBLE))").alias("v")
        )
        .withColumn("__h", F.md5(F.concat_ws(",", F.col("v").cast("array<string>"))))
        .orderBy("__h")
        .limit(int(sample_rows))
        .collect()
    )
    X = np.array([list(r.v) for r in rows], dtype=float)
    if X.shape[0] < ks:
        raise ValueError(f"need at least ks={ks} vectors, got {X.shape[0]}")
    books = []
    for b in range(m):
        S = X[:, b * sub : (b + 1) * sub]
        C = S[:ks].copy()  # same init rule as kmeans_fit: first ks by hash
        for _ in range(max_iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)  # ties -> lowest code, like assign_clusters
            new = C.copy()
            for j in range(ks):
                mask = a == j
                if mask.any():
                    new[j] = S[mask].mean(axis=0)  # empty keeps previous
            done = np.allclose(new, C, atol=1e-9)
            C = new
            if done:
                break
        books.append(C)
    return np.stack(books)


def _pq_block_dists(vec_col: str, codebooks: np.ndarray, b: int, round_digits: int | None):
    """Squared-L2 of block b's sub-vector against each of its ks
    centroids — fixed-order left folds (aggregate/zip_with), the same
    IEEE-deterministic shape the cosine/IVF family uses."""
    m, ks, sub = codebooks.shape
    off = b * sub
    dists = []
    for j in range(ks):
        arr = ", ".join(f"{float(v)!r}D" for v in codebooks[b, j])
        d = (
            f"aggregate(zip_with(transform(slice({vec_col}, {off + 1}, {sub}), "
            f"v -> CAST(v AS DOUBLE)), array({arr}), "
            f"(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        )
        dists.append(f"round({d}, {round_digits})" if round_digits is not None else d)
    return dists


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """Attach ``pq_codes``: array<int> of m per-block argmin codes.
    Map-only, broadcast-by-literal, whole-stage codegen — this is the
    compression pass that turns a dim-D float vector into m small ints
    (the 100 TB play: the encoded corpus is ~dim·4/m× smaller, scans
    and shuffles move codes, never raw vectors). ``round_digits``
    rounds block distances before the argmin (ties → lowest code) for
    engine-portable assignment."""
    m, ks, sub = codebooks.shape
    # Staged-column form (r12, guide §4.1): cast the vector once, stage
    # each block's sub-vector slice and its ks-distance array as
    # intermediate columns (multi-referenced → CollapseProject keeps
    # them), then take each block's argmin with the first-match
    # semantics of the old CASE chain. The old form re-evaluated every
    # interpreted fold per CASE branch — O(ks²) folds per row per
    # block; this is O(ks).
    out = df.withColumn(
        "__pq_vd", F.expr(f"transform({vec_col}, v -> CAST(v AS DOUBLE))")
    )
    tmp = ["__pq_vd"]
    code_exprs = []
    for b in range(m):
        sl = f"__pq_s{b}"
        out = out.withColumn(sl, F.expr(f"slice(__pq_vd, {b * sub + 1}, {sub})"))
        dists = [
            _sqdist_fold(sl, codebooks[b, j], round_digits) for j in range(ks)
        ]
        dc = f"__pq_d{b}"
        out = out.withColumn(dc, F.expr(f"array({', '.join(dists)})"))
        tmp += [sl, dc]
        code_exprs.append(_argmin_sql(dc))
    return out.withColumn("pq_codes", F.expr(f"array({', '.join(code_exprs)})")).drop(
        *tmp
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus_encoded: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over a PQ-encoded
    corpus: each query builds one lookup table per block (its exact
    distance to every codebook centroid — m·ks doubles), and every
    corpus row's approximate distance is the SUM OF m TABLE LOOKUPS —
    no vector arithmetic against the corpus at all.

    Plan: the query side (with LUT array columns) broadcasts; the scan
    side touches only (id, codes) — at 100 TB the vectors themselves
    are never read after encoding. Final per-query top-k is the
    WindowGroupLimit pattern. Output: (query_id, neighbor_id,
    approx_dist, rank), rounded to 6 digits + id-tiebroken for
    engine-portable ranking."""
    m, ks, _ = codebooks.shape
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        *[
            F.expr(f"array({', '.join(_pq_block_dists('embedding', codebooks, b, None))})").alias(
                f"__lut{b}"
            )
            for b in range(m)
        ],
    )
    total = " + ".join(
        f"element_at(__lut{b}, element_at(pq_codes, {b + 1}) + 1)" for b in range(m)
    )
    scored = (
        corpus_encoded.select(F.col("vec_id").alias("neighbor_id"), "pq_codes")
        .join(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(total), 6).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    corpus_encoded: DataFrame,
    codebooks: np.ndarray,
    shortlist: int = 50,
) -> DataFrame:
    """The production PQ search pipeline: ADC over codes to a
    ``shortlist``, then EXACT squared-L2 re-rank to the top 5 of only the
    shortlisted vectors — the standard recall-restoring second stage
    (IVF-PQ+rerank shape). At 100 TB the full-precision vectors are
    read for shortlist·|queries| rows only; everything corpus-wide
    touches just the m-byte codes.

    Recall depends on the data's intrinsic dimension: quantization
    preserves neighbor structure on real embedding manifolds, while
    isotropic random vectors (distance concentration) defeat any
    code-based shortlist — benchmark on your corpus and size
    ``shortlist`` accordingly (see tests for the planted-cluster
    harness)."""
    cand = pq_adc_topk(
        queries,
        corpus_encoded,
        codebooks,
        k=shortlist,
    ).select("query_id", "neighbor_id")
    qv = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"))
    exact = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    "aggregate(zip_with(transform(__qv, v -> CAST(v AS DOUBLE)), "
                    "transform(__cv, v -> CAST(v AS DOUBLE)), "
                    "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
                ),
                6,
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted lists + product-quantized residuals
# ---------------------------------------------------------------------------


def _residual_expr(
    vec_col: str, centroids: np.ndarray, cluster_col: str = "cluster_id"
) -> F.Column:
    """``vec - centroid[cluster_id]`` as array<double> — a CASE over
    the k centroid literals, element-wise subtraction in one fixed
    order (cast first, subtract second) so both engines fold
    identically."""
    k = centroids.shape[0]
    branches = " ".join(
        f"WHEN {cluster_col} = {c} THEN zip_with(transform({vec_col}, "
        f"v -> CAST(v AS DOUBLE)), array({', '.join(f'{float(v)!r}D' for v in centroids[c])}), "
        f"(x, y) -> x - y)"
        for c in range(k)
    )
    return F.expr(f"CASE {branches} END")


def ivfpq_encode(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
) -> DataFrame:
    """The full IVF-PQ index build as ONE map-only pass: coarse-assign
    each vector to its nearest centroid (the inverted-list key),
    subtract that centroid, and product-quantize the RESIDUAL.

    Residual PQ (vs q105's plain PQ) is why real ANN engines pair the
    two stages: after subtracting the coarse centroid the remaining
    energy is small and locally isotropic, so the same m×ks codebook
    budget quantizes far more precisely. The output carries
    (cluster_id, pq_codes) — at 100 TB the index is a column pair,
    partitionable BY cluster_id so each probe reads only its inverted
    list's files (partition pruning does the 'inverted index' for
    free). Everything is literal-broadcast codegen'd expressions: no
    UDF, no shuffle, no driver data. Distances are rounded to 6 digits
    before every argmin, so near-ties resolve the same on any engine."""
    assigned = assign_clusters(df, centroids, round_digits=6)
    with_resid = assigned.withColumn(
        "__resid", _residual_expr("embedding", centroids, "cluster_id")
    )
    return pq_encode(with_resid, codebooks, vec_col="__resid", round_digits=6).drop(
        "__resid"
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus_encoded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 5,
    n_probes: int = 2,
) -> DataFrame:
    """IVF-PQ approximate top-k: each query probes its ``n_probes``
    nearest coarse clusters and scores ONLY those inverted lists, by
    asymmetric distance against the PQ codes of the residuals.

    Per (query, probed cluster): the query's residual vs that
    cluster's centroid feeds one LUT per block (its exact distance to
    each of the ks codebook rows); every candidate's approximate
    distance is m table lookups. Compared to ``pq_adc_topk`` this
    scans corpus_fraction ≈ n_probes/k_clusters of the codes, and
    compared to ``ivf_knn`` it never touches a corpus vector — the
    two multiplicative savings that make billion-vector search a
    small-join problem. Probe ranking and block argmins round at 6
    digits with index tie-breaks; final ranking ties break
    on neighbor id — fully engine-portable. Top-k plans as
    WindowGroupLimit after a cluster-key equi-join whose query side
    (n_queries × n_probes rows of m·ks-double LUTs) broadcasts."""
    kc = centroids.shape[0]
    m, ks, _ = codebooks.shape

    # rank centroids per query, keep n_probes (ties: lower cluster id)
    dist_structs = []
    for ci in range(kc):
        arr = ", ".join(f"{float(v)!r}D" for v in centroids[ci])
        d = (
            f"aggregate(zip_with(transform(embedding, v -> CAST(v AS DOUBLE)), array({arr}), "
            f"(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
        )
        dist_structs.append(f"named_struct('d', round({d}, 6), 'cluster_id', {ci})")
    probes = (
        f"transform(slice(array_sort(array({', '.join(dist_structs)})), 1, {n_probes}), "
        f"p -> p.cluster_id)"
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.explode(F.expr(probes)).alias("cluster_id"),
    ).withColumn("__qresid", _residual_expr("__qv", centroids, "cluster_id"))
    luts = q.select(
        "query_id",
        "cluster_id",
        *[
            F.expr(
                f"array({', '.join(_pq_block_dists('__qresid', codebooks, b, None))})"
            ).alias(f"__lut{b}")
            for b in range(m)
        ],
    )
    total = " + ".join(
        f"element_at(__lut{b}, element_at(pq_codes, {b + 1}) + 1)" for b in range(m)
    )
    scored = (
        corpus_encoded.select(
            F.col("vec_id").alias("neighbor_id"), "cluster_id", "pq_codes"
        )
        .join(F.broadcast(luts), "cluster_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.expr(total), 6).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
