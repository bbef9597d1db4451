"""Embedding-space diagnostics: centroid drift and similarity
geometry, with cross-engine-exact arithmetic.

Float vector aggregates are the classic determinism trap: a
cross-row SUM of doubles depends on partition order. Both operators
here avoid it:

- ``centroid_drift`` fixes each component to integer micro-units
  BEFORE any cross-row accumulation (the per-row rounding is
  intra-row and deterministic; the sums are exact BIGINTs), then
  computes the between-centroid distance from the SUMS with
  cross-multiplied exact arithmetic — the squared terms run in
  DECIMAL(38,0) (HUGEINT on other engines), so no n₁·n₂ denominator
  ever divides early and nothing overflows below ~10³⁸.
- ``similarity_histogram`` buckets pairwise cosines over a
  DETERMINISTIC md5 sample of the corpus (seed-free, partition-order
  independent) — the corpus-geometry health check ("are my
  embeddings collapsing?") that must never be an all-pairs join:
  the sample bound makes the pair count a constant the caller picks,
  and the cosine itself is the library's intra-row left-fold
  (array-order IEEE, the q30 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def centroid_drift(
    df: DataFrame,
    keys: list[str],
    vec_col: str,
    split_col: str,
) -> DataFrame:
    """Per key group: the Euclidean distance between the centroids of
    the two halves named by ``split_col`` (values 0/1 — e.g. old drop
    vs new drop, or an md5 parity) — ``(keys..., n0, n1,
    centroid_dist)`` with the distance on the original component
    scale, rounded at 6. Groups missing either half emit null.

    Exactness: components fix to round(v·10⁶) BIGINTs; the distance
    is √(Σ_d (s0_d·n1 − s1_d·n0)²) / (n0·n1·10⁶) where the s are
    exact per-dimension micro sums and the squared terms accumulate
    in DECIMAL(38,0). Headroom: |s·n| < ~3·10¹⁸ wants n·|v|·10⁶·n
    within 10¹⁸ — fine to ~10⁵ rows per half at unit-scale
    embeddings; rescale above that.

    Plan: one explode to (keys, half, dim) — corpus×dim rows into a
    map-side-combinable groupBy — one tiny per-half count aggregate
    broadcast back, one dim-level combine. Never a vector shuffle.
    """
    posexpl = F.posexplode(
        F.expr(
            f"transform({vec_col}, "
            "v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))"
        )
    )
    d = df.select(
        *keys, F.col(split_col).cast("int").alias("__h"), posexpl.alias("__d", "__m")
    )
    sums = d.groupBy(*keys, "__d").agg(
        F.sum(F.when(F.col("__h") == 0, F.col("__m"))).cast("long").alias("__s0"),
        F.sum(F.when(F.col("__h") == 1, F.col("__m"))).cast("long").alias("__s1"),
    )
    counts = (
        df.select(*keys, F.col(split_col).cast("int").alias("__h"))
        .groupBy(*keys)
        .agg(
            F.sum(F.when(F.col("__h") == 0, 1).otherwise(0)).cast("long").alias("n0"),
            F.sum(F.when(F.col("__h") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        )
    )
    joined = sums.join(F.broadcast(counts), keys)
    diff = F.coalesce(F.col("__s0"), F.lit(0)) * F.col("n1") - F.coalesce(
        F.col("__s1"), F.lit(0)
    ) * F.col("n0")
    term = (diff.cast("decimal(38,0)") * diff).alias("__t")
    agg = joined.select(*keys, "n0", "n1", term).groupBy(*keys).agg(
        F.max("n0").alias("n0"),
        F.max("n1").alias("n1"),
        F.sum("__t").alias("__num"),
    )
    dist = F.round(
        F.sqrt(F.col("__num").cast("double"))
        / (F.col("n0") * F.col("n1"))
        / 1_000_000.0,
        6,
    )
    return agg.select(
        *keys,
        "n0",
        "n1",
        F.when((F.col("n0") > 0) & (F.col("n1") > 0), dist).alias("centroid_dist"),
    )


def similarity_histogram(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    sample_mod: int,
) -> DataFrame:
    """Histogram of pairwise cosine similarities over the
    deterministic sample ``md5('s|' || id) % sample_mod == 0``:
    ``(bin, cnt)`` over 40 equal bins of [−1, 1] in micro
    units. The sample keeps the pair count at (n/sample_mod)²/2 — a
    dial the caller owns — because an all-pairs join over the corpus
    is never acceptable; the cosine is the intra-row left-fold
    (array-order IEEE, identical across engines)."""
    from owl_etl_spark.functions.hashing import md5_long
    from owl_etl_spark.functions.similarity import cosine_sql
    from owl_etl_spark.operators.histo import histogram_sketch

    if sample_mod < 1:
        raise ValueError(
            f"similarity_histogram: sample_mod must be >= 1, got {sample_mod}"
        )
    s = df.where(
        md5_long(F.concat(F.lit("s|"), F.col(id_col).cast("string"))) % sample_mod
        == 0
    ).select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    a = s.select(F.col("__id").alias("__ia"), F.col("__v").alias("__va"))
    b = s.select(F.col("__id").alias("__ib"), F.col("__v").alias("__vb"))
    pairs = a.crossJoin(b).where(F.col("__ia") < F.col("__ib"))
    sims = pairs.select(
        F.round(cosine_sql("__va", "__vb") * 1_000_000)
        .cast("long")
        .alias("sim_micro")
    )
    return histogram_sketch(
        sims, [], "sim_micro", lo=-1_000_000, hi=1_000_000, n_bins=40
    )


def linear_cka(
    a: DataFrame,
    b: DataFrame,
) -> DataFrame:
    """Linear CKA-style covariance alignment between two UNPAIRED
    embedding snapshots — the representation-similarity readout that
    answers "did the new encoder move the geometry?" where per-vector
    cosine drift (this module's histogram) can't: it compares the
    feature COVARIANCE matrices, so it is invariant to orthogonal
    rotation of the inputs and to isotropic rescaling — exactly the
    nuisances a retrain introduces.

        score = <Ĉ_a, Ĉ_b>_F / (||Ĉ_a||_F · ||Ĉ_b||_F)

    with Ĉ the mean-centered d×d covariance of each sample (the
    two-sample, row-correspondence-free form; the Gram-matrix CKA
    needs paired rows and is deliberately not what this computes —
    stated so the estimator is unambiguous).

    Exactness discipline: per side ONE integer gram pass + ONE column
    -sum pass (the q170 machinery — quantized vectors, exact BIGINT
    Σxxᵀ and Σx). Each centered cell then has the exact integer
    numerator p_ij = n·Σx_ix_j − Σx_i·Σx_j (the n² denominator and
    the quantization scale CANCEL in the final ratio), and the three
    Frobenius accumulations Σ p_a·p_b, Σ p_a², Σ p_b² run in
    ARBITRARY-PRECISION integers (Python bignums on the driver; the
    oracle's DuckDB side widens to HUGEINT — cells reach ~10²⁶, far
    past BIGINT, well inside HUGEINT). The single float is the final
    num/√·√ of exact integers — identical on both engines. Returns
    one row: ``(n_a, n_b, cka)``, NULL when either side is
    degenerate (zero covariance)."""
    import math

    from owl_etl_spark.operators.linalg import column_sums, gram_matrix

    d = 64

    def side(df: DataFrame):
        g = {(r["i"], r["j"]): int(r["s"]) for r in
             gram_matrix(df, "embedding", d).collect()}
        srow = column_sums(df, "embedding", d).collect()[0]
        n = int(srow["n"])
        sx = [int(x) for x in srow["sums"]]
        cells = {}
        for i in range(1, d + 1):
            for j in range(i, d + 1):
                p = n * g[(i, j)] - sx[i - 1] * sx[j - 1]
                cells[(i, j)] = p
        return n, cells

    n_a, pa = side(a)
    n_b, pb = side(b)
    # Frobenius sums over the full symmetric matrices: off-diagonal
    # upper-triangle cells count twice
    def fro(x, y):
        tot = 0
        for (i, j), v in x.items():
            w = v * y[(i, j)]
            tot += w if i == j else 2 * w
        return tot

    num, a2, b2 = fro(pa, pb), fro(pa, pa), fro(pb, pb)
    cka = (
        round(num / (math.sqrt(a2) * math.sqrt(b2)), 6) if a2 > 0 and b2 > 0 else None
    )
    spark = a.sparkSession
    from owl_etl_spark.session import literal_frame

    return literal_frame(
        spark, [(n_a, n_b, cka)], "n_a long, n_b long, cka double"
    )


def quadratic_mmd(
    a: DataFrame,
    b: DataFrame,
) -> DataFrame:
    """Maximum mean discrepancy with the QUADRATIC kernel
    k(x, y) = (xᵀy)² between two embedding samples — the two-sample
    TEST companion to ``linear_cka``'s similarity score: MMD² > 0
    says the two samples come from different distributions (up to
    second moments, which is what the quadratic kernel sees — the
    honest statement of its power; it detects covariance shifts, not
    arbitrary ones).

    The kernel choice is what makes this exact at scale: for
    k = (xᵀy)², E[k(x, y)] = ⟨E[xxᵀ], E[yyᵀ]⟩_F — so the O(n²)
    pairwise kernel sums collapse to Frobenius products of the two
    sides' SECOND-MOMENT matrices, which the q170 integer gram pass
    already computes exactly:

        MMD²·(nA·nB)² ∝ ‖nB²·Gₐ⊗Gₐ + nA²·G_b⊗G_b − 2·nA·nB·Gₐ⊗G_b‖

    assembled as arbitrary-precision integers (Python bignums /
    HUGEINT — gram products reach ~10²⁶), normalized once at the end.
    The biased V-statistic form (self-pairs included) keeps the
    algebra a pure moment product — stated; the n⁻¹ bias vanishes at
    corpus scale. Returns ``(n_a, n_b, mmd2)`` with mmd2 in
    quantization-normalized units (scale⁴ divided out), rounded at
    12 significant micro-digits via round(·, 6) on the ×1e6 value."""
    from owl_etl_spark.operators.linalg import gram_matrix

    d = 64

    def side(df: DataFrame):
        rows = gram_matrix(df, "embedding", d).collect()
        n = int(rows[0]["n"]) if rows else 0
        g = {}
        for r in rows:
            g[(r["i"], r["j"])] = int(r["s"])
        return n, g

    n_a, ga = side(a)
    n_b, gb = side(b)

    def fro(x, y):
        tot = 0
        for (i, j), v in x.items():
            w = v * y[(i, j)]
            tot += w if i == j else 2 * w
        return tot

    # E[k] within/between assembled over ONE common exact-integer
    # numerator/denominator, then a single float division computed as
    # float(num)/float(den) — convert-then-divide mirrors the oracle's
    # CAST(x AS DOUBLE)/CAST(y AS DOUBLE) bit-for-bit (Python's exact
    # bignum truediv rounds the RATIONAL, which can differ by an ulp)
    kaa = fro(ga, ga)
    kbb = fro(gb, gb)
    kab = fro(ga, gb)
    num = kaa * n_b * n_b + kbb * n_a * n_a - 2 * kab * n_a * n_b
    den = n_a * n_a * n_b * n_b * 1000**4
    mmd2 = float(num) / float(den)
    spark = a.sparkSession
    from owl_etl_spark.session import literal_frame

    return literal_frame(
        spark, [(n_a, n_b, round(mmd2, 6))], "n_a long, n_b long, mmd2 double"
    )
