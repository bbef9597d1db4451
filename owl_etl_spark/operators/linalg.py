"""Distributed linear algebra over embedding columns: exact Gram
matrix / column sums — the one-pass inputs PCA and covariance need.

The covariance of an embedding corpus is C = (G − n·μμᵀ)/(n−1) with
G = Σ x xᵀ — so the distributed work is exactly "sum outer products",
a dim×dim accumulator that fits anywhere, while the eigen-solve on
the d×d result is a driver/consumer step (deliberately NOT here:
eigenvector sign/order is solver-dependent and can't be oracle-gated;
the Gram matrix can).

Determinism: embeddings quantize to integer units first
(round(v·scale)), so every product and sum is exact BIGINT
arithmetic — order-independent, engine-identical. Overflow contract:
n · (dim? no — per-cell) n · max|x|² < 2^63: at micro units
(scale=1e6) and |v| ≤ 3 that is ~1e6 rows; at milli units (1e3) it is
~1e12. Pick ``scale`` for your corpus size; the gate uses milli.

Scale shape: ONE posexplode (dim× row expansion — the honest
distributed layout: (i, x_i, whole-vector) rows), then a dim-group
aggregate of dim per-group sums: dim² cells move through the
shuffle as 64 rows × 64-wide arrays, never the data. No pandas, no
driver loops; whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import bounded_collect, iterate, literal_frame, release, seal


def gram_matrix(
    df: DataFrame,
    vec_col: str,
    dim: int,
    scale: int = 1000,
) -> DataFrame:
    """Upper-triangle Gram matrix of the quantized embeddings: one row
    per (i, j), 1-based, i ≤ j — ``(i, j, n, s)`` with
    ``s = Σ_rows round(v_i·scale)·round(v_j·scale)`` (exact BIGINT)
    and ``n`` the row count (same for every cell; carried per row so
    the frame is self-describing for the covariance step). Null
    vectors and vectors of the wrong length raise (a silently skipped
    row would corrupt every cell)."""
    d = int(dim)
    ok = F.col(vec_col).isNotNull() & (F.size(vec_col) == d)
    checked = df.select(
        F.when(
            ~ok,
            F.raise_error(
                F.lit(
                    f"gram_matrix: {vec_col} must be a non-null array of "
                    f"length {d}"
                )
            ).cast(dict(df.dtypes)[vec_col]),
        )
        .otherwise(F.col(vec_col))
        .alias("__v")
    )
    q = checked.select(
        F.expr(
            f"transform(__v, v -> CAST(round(CAST(v AS DOUBLE) * {int(scale)}) AS BIGINT))"
        ).alias("__q")
    )
    rows = q.select(F.posexplode("__q").alias("__i0", "__xi"), F.col("__q"))
    per_i = rows.groupBy("__i0").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.array(
            *[
                F.sum(F.col("__xi") * F.element_at("__q", j + 1)).cast("long")
                for j in range(d)
            ]
        ).alias("__sums"),
    )
    out = per_i.select(
        (F.col("__i0") + 1).cast("int").alias("i"),
        "n",
        F.posexplode("__sums").alias("__j0", "s"),
    ).select("i", (F.col("__j0") + 1).cast("int").alias("j"), "n", "s")
    return out.filter(F.col("j") >= F.col("i"))


def column_sums(
    df: DataFrame,
    vec_col: str,
    dim: int,
    scale: int = 1000,
) -> DataFrame:
    """Companion 1-row frame for the mean/covariance step: ``n`` and
    ``sums`` (array of per-dimension Σ round(v·scale), exact BIGINT).
    μ = sums/(n·scale); C = (G/scale² − n μμᵀ)/(n−1) — consumer-side
    arithmetic on a config-sized result."""
    d = int(dim)
    q = df.select(
        F.expr(
            f"transform({vec_col}, v -> CAST(round(CAST(v AS DOUBLE) * {int(scale)}) AS BIGINT))"
        ).alias("__q")
    )
    return q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.array(
            *[F.sum(F.element_at("__q", j + 1)).cast("long") for j in range(d)]
        ).alias("sums"),
    )


def power_iteration_top_eigvec(
    gram: DataFrame,
    n_iters: int = 6,
) -> DataFrame:
    """Dominant eigenvector of a symmetric matrix given as the
    upper-triangle ``(i, j, s)`` frame ``gram_matrix`` emits —
    all-integer power iteration, so (unlike a driver-side eigensolver,
    whose sign/order is solver-dependent — the documented q170
    limitation) the result IS oracle-gateable:

        A      = floordiv(s · 1e4, max|s|)            (|A| ≤ 1e4)
        v₀     = micro (1e6) everywhere
        w      = A · v                                 (exact BIGINT)
        pivot  = w-component with max |w|, ties → lowest i
        v'     = floordiv(w · micro · sign(pivot), max(|pivot|, 1))

    The pivot normalization fixes BOTH scale and sign each round
    (pivot component becomes exactly +micro), so the iterate is
    bit-identical across engines and partitionings. Every division is
    the exact-multiple floor-div of ``_fd`` — no trunc/floor skew.

    Overflow headroom: |w| ≤ dim·1e4·micro, then ·micro again in
    the normalize — dim ≤ ~9·10⁵ before BIGINT risk;
    raise awareness before feeding a wider matrix. Convergence is the
    standard power-iteration ratio |λ₂/λ₁| per round; fixed
    ``n_iters`` keeps the run replayable (the gate pins the ITERATE,
    which equals the true eigendirection only in the limit — callers
    wanting a certified solve run more rounds and check the Rayleigh
    residual).

    Plan per iteration: one A⋈v join + one i-group aggregate over the
    MATRIX CELL list (dim² rows, never the corpus) + a 1-row broadcast
    pivot kept IN-PLAN (the fused-HITS shape — no driver collect);
    ``session.iterate`` seals every second round."""
    full = gram.select("i", "j", "s").unionAll(
        gram.filter(F.col("j") > F.col("i")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "s"
        )
    )
    amax = full.agg(F.greatest(F.max(F.abs(F.col("s"))), F.lit(1)).alias("__amax"))
    a = seal(
        full.crossJoin(F.broadcast(amax))
        .select(
            "i",
            "j",
            F.expr(
                "(s * 10000 - ((s * 10000 % __amax) + __amax)"
                " % __amax) div __amax"
            )
            .cast("long")
            .alias("a"),
        )
        # eager: every iteration chains off `a`, and Spark ANALYZES the
        # growing plan eagerly at every DataFrame build — with a lazy
        # checkpoint the 6-iteration build re-analyzed the full
        # gram subtree per operator (measured: 3.4 s of q253's 4.2 s
        # was plan build, 0.4 s execution). Truncating here keeps
        # every iteration's analyzed tree shallow.
    )
    # exact driver replay when model-sized (session.bounded_collect)
    rows = bounded_collect(a)
    if rows is not None:
        release(a)
        cells = [(r[0], r[1], r[2]) for r in rows]
        ityp = dict(a.dtypes)["i"]
        v_d = {i: 1_000_000 for i, _, _ in cells}
        for _ in range(int(n_iters)):
            w_d: dict = {}
            for i, j, aa in cells:
                xj = v_d.get(j)
                if xj is not None:
                    w_d[i] = w_d.get(i, 0) + aa * xj
            if not w_d:
                v_d = {}
                continue
            # pivot: max |w|, ties -> lowest i; sign fixes orientation
            pi, pw = max(w_d.items(), key=lambda kv: (abs(kv[1]), -kv[0]))
            sg = -1 if pw < 0 else 1
            pv = max(abs(pw), 1)
            v_d = {i: (w * 1_000_000 * sg) // pv for i, w in w_d.items()}
        return literal_frame(
            gram.sparkSession,
            sorted(v_d.items()),
            f"i {ityp}, v_micro bigint",
        )
    v = a.select(F.col("i").alias("vi")).distinct().select(
        "vi", F.lit(1_000_000).cast("long").alias("x")
    )

    def _round(v: DataFrame, _: int) -> DataFrame:
        w = (
            a.join(v, a["j"] == v["vi"])
            .groupBy("i")
            .agg(F.sum(F.col("a") * F.col("x")).cast("long").alias("w"))
        )
        pivot = (
            w.orderBy(F.abs(F.col("w")).desc(), F.col("i").asc())
            .limit(1)
            .select(
                F.when(F.col("w") < 0, F.lit(-1)).otherwise(F.lit(1)).alias("__sg"),
                F.greatest(F.abs(F.col("w")), F.lit(1)).cast("long").alias("__pv"),
            )
        )
        return w.crossJoin(F.broadcast(pivot)).select(
            F.col("i").alias("vi"),
            F.expr(
                "(w * 1000000 * __sg - ((w * 1000000 * __sg % __pv)"
                " + __pv) % __pv) div __pv"
            )
            .cast("long")
            .alias("x"),
        )

    v = iterate(v, _round, n_iters, every=2)
    return v.select(F.col("vi").alias("i"), F.col("x").alias("v_micro"))
