"""Spatial radius self-join via grid bucketing.

"All pairs of points within distance r" is the classic quadratic
trap: the naive cross-join compares every pair. The scale-safe plan
is GRID BUCKETING: hash each point to an r-sized square cell, explode
ONE side into its 3x3 cell neighborhood (constant ×9 fan-out), join
on the cell key, then apply the exact distance predicate. Any pair
within r differs by at most one cell per axis, so the neighborhood
join finds every qualifying pair; per-task candidates are bounded by
cell occupancy (points per r×r square), not by the corpus size —
the same bounded-expansion contract as the LSH band joins and
fifo_allocate's unit-range bucketing elsewhere in this repo.

Pair dedup is by construction, not a distinct pass: the probe side
sits in exactly one cell, so each ordered direction of a pair joins
exactly once, and the ``id_a < id_b`` filter keeps exactly one
unordered pair.

Determinism: coordinates and the radius are integers; the distance
test compares exact BIGINT squared distances (needs coordinate
magnitude < ~2^31 so dx² + dy² < 2^63 — planar micro-degree or
projected-meter grids fit easily).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_etl_spark.session import seal


def grid_radius_join(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
) -> DataFrame:
    """All unordered pairs of ``points`` within Euclidean distance
    ``radius`` (inclusive), as ``(id_a, id_b, dist2)`` with
    ``id_a < id_b`` and the exact squared distance.

    Rows with a null id/coordinate are excluded (a point without a
    position cannot be near anything). Coordinates must be integral
    (cast upstream); radius must be a positive integer.
    """
    if radius < 1:
        raise ValueError(f"grid_radius_join: radius must be >= 1, got {radius}")
    r = int(radius)
    p = points.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ).where(
        F.col("__id").isNotNull() & F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    cell = p.withColumn("__cx", F.expr(f"__x div {r}")).withColumn(
        "__cy", F.expr(f"__y div {r}")
    )
    # Build side: exploded into its own + 8 neighbor cells (×9, a
    # constant). Probe side: its own cell only.
    d = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    build = (
        cell.withColumn("__dx", d)
        .withColumn("__dy", d)
        .select(
            F.col("__id").alias("__id_a"),
            F.col("__x").alias("__xa"),
            F.col("__y").alias("__ya"),
            (F.col("__cx") + F.col("__dx")).alias("__cx"),
            (F.col("__cy") + F.col("__dy")).alias("__cy"),
        )
    )
    probe = cell.select(
        F.col("__id").alias("__id_b"),
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
        "__cx",
        "__cy",
    )
    dx = F.col("__xa") - F.col("__xb")
    dy = F.col("__ya") - F.col("__yb")
    return (
        build.join(probe, ["__cx", "__cy"])
        .where(F.col("__id_a") < F.col("__id_b"))
        .withColumn("dist2", (dx * dx + dy * dy).cast("long"))
        .where(F.col("dist2") <= F.lit(r * r).cast("long"))
        .select(
            F.col("__id_a").alias("id_a"), F.col("__id_b").alias("id_b"), "dist2"
        )
    )


def grid_density_clusters(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    cell_size: int,
    min_pts: int,
) -> DataFrame:
    """Density-based clustering, DBSCAN's grid approximation: bucket
    points into ``cell_size``-square cells, keep cells holding at
    least ``min_pts`` points (the dense cells), connect dense cells
    that touch in the 8-neighborhood, and label each connected group
    of dense cells a cluster. Returns one row per dense cell:
    ``(cell_x, cell_y, cluster, n_points)`` where ``cluster`` is the
    minimum cell id of the component (deterministic — no tiebreak
    freedom exists in a min).

    Why this shape at 100 TB: true DBSCAN's ε-neighborhood query is a
    radius self-join over POINTS — quadratic in dense regions. Here
    the only per-point work is one groupBy into cells; everything
    after runs on the DENSE-CELL table, which is smaller than the
    points by at least min_pts× (and typically by orders of
    magnitude). Cell adjacency is the grid_radius_join trick — a ×9
    constant explode joined on the cell key — and the component pass
    reuses ``dedup.connected_components_star`` (alternating star
    contraction, O(log² n) rounds on ANY shape): dense-cell graphs
    are exactly the DEEP corridor shape where min-label's
    diameter-many rounds lose — a 20-cell snake already blows a
    20-round budget.

    Determinism: coordinates must be integral; the cell id packs
    (cx, cy) into one BIGINT with a 2^21 offset/2^42 stride, exact
    for |coordinate/cell_size| < 2^20.
    """
    if cell_size < 1:
        raise ValueError(f"grid_density_clusters: cell_size must be >= 1, got {cell_size}")
    if min_pts < 1:
        raise ValueError(f"grid_density_clusters: min_pts must be >= 1, got {min_pts}")
    p = points.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ).where(
        F.col(id_col).isNotNull() & F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    OFF = 1 << 20
    STRIDE = 1 << 42
    cells = seal(
        p.groupBy(
            F.expr(f"__x div {cell_size}").alias("cx"),
            F.expr(f"__y div {cell_size}").alias("cy"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .where(F.col("n_points") >= min_pts)
        .withColumn(
            "cell_id",
            ((F.col("cx") + OFF) * STRIDE + (F.col("cy") + OFF)).cast("long"),
        )
        # r13 (guide §1.2): four consumers read the dense-cell table
        # (adjacency build side, probe side, the component ids, the
        # final label join) and each ran the per-POINT aggregation
        # again — cross-job, where ReuseExchange cannot fire. One
        # eager seal of the grid-bounded cell table replaces three
        # full re-aggregations of the corpus.
    )
    d = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    probe = cells.select("cell_id", "cx", "cy")
    build = (
        cells.withColumn("__dx", d)
        .withColumn("__dy", d)
        .select(
            F.col("cell_id").alias("__cid_a"),
            (F.col("cx") + F.col("__dx")).alias("cx"),
            (F.col("cy") + F.col("__dy")).alias("cy"),
        )
    )
    pairs = (
        build.join(probe, ["cx", "cy"])
        .where(F.col("__cid_a") < F.col("cell_id"))
        .select(F.col("__cid_a").alias("id_a"), F.col("cell_id").alias("id_b"))
    )
    from owl_etl_spark.operators.dedup import connected_components_star

    comp = connected_components_star(
        pairs, cells.select("cell_id"), id_col="cell_id", max_iters=20
    ).withColumnRenamed("cell_id", "__comp_cell")
    return (
        cells.join(comp, cells.cell_id == F.col("__comp_cell"))
        .select(
            F.col("cx").alias("cell_x"),
            F.col("cy").alias("cell_y"),
            F.col("component").alias("cluster"),
            "n_points",
        )
    )


def nearest_center_assign(
    points: DataFrame,
    centers: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Assign every point to its nearest center (exact squared
    Euclidean distance, ties to the lowest center id):
    ``(id, center_id, dist2)``.

    The centers table must be SMALL (a codebook/dimension —
    facilities, depots, cluster seeds): the plan is an explicit
    ``broadcast`` cross join (points×K candidates, map-side only,
    zero shuffles of the points) followed by a groupBy argmin via
    ``min_by`` on the packed (dist2, center_id) struct — no window,
    no sort of the candidates. Coordinates must be integral with
    |coord| < 2^31 so dx²+dy² stays an exact BIGINT.
    """
    p = points.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ).where(
        F.col(id_col).isNotNull() & F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    c = centers.select(
        F.col("center_id").alias("__cid"),
        F.col("center_x").cast("long").alias("__cx"),
        F.col("center_y").cast("long").alias("__cy"),
    )
    dx = F.col("__x") - F.col("__cx")
    dy = F.col("__y") - F.col("__cy")
    cand = p.crossJoin(F.broadcast(c)).withColumn(
        "__d2", (dx * dx + dy * dy).cast("long")
    )
    best = cand.groupBy("__id").agg(
        F.min(F.struct(F.col("__d2"), F.col("__cid"))).alias("__best")
    )
    return best.select(
        F.col("__id").alias("id"),
        F.col("__best.__cid").alias("center_id"),
        F.col("__best.__d2").alias("dist2"),
    )


def simplified_silhouette(
    points: DataFrame,
    centers: DataFrame,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster — the
    clustering QUALITY readout the fitting family (kmeans/IVF/grid
    DBSCAN) lacked: for each point, a = distance to its own (nearest)
    center, b = distance to the second-nearest, s = (b − a)/max(a, b)
    ∈ [0, 1] here (a ≤ b by construction of the assignment — the full
    pairwise silhouette can go negative, the simplified one cannot;
    stated so nobody misreads the floor). Cluster health = mean s;
    s ≈ 0 marks points on a boundary between two centers.

    Exactness: squared distances are exact BIGINTs; per point ONE
    float step computes s from the two sqrt'd distances and
    micro-snaps it (IEEE sqrt is correctly rounded, so the per-row
    double is engine-identical — the q245 discipline applied to
    geometry), then exact BIGINT sums and one floor division per
    cluster. Points tied between centers break to the lowest center
    id, like nearest_center_assign. Plan: one broadcast cross join
    against the center table (map-side), a top-2 window per point on
    the packed distance struct, one cluster aggregate."""
    from pyspark.sql import Window

    p = points.select(
        F.col("id").alias("__id"),
        F.col("x").cast("long").alias("__x"),
        F.col("y").cast("long").alias("__y"),
    )
    c = centers.select(
        F.col("cid").cast("long").alias("__cid"),
        F.col("cx").cast("long").alias("__cx"),
        F.col("cy").cast("long").alias("__cy"),
    )
    cand = p.crossJoin(F.broadcast(c)).select(
        "__id",
        "__cid",
        (
            (F.col("__x") - F.col("__cx")) * (F.col("__x") - F.col("__cx"))
            + (F.col("__y") - F.col("__cy")) * (F.col("__y") - F.col("__cy"))
        )
        .cast("long")
        .alias("__d2"),
    )
    w = Window.partitionBy("__id").orderBy(F.col("__d2").asc(), F.col("__cid").asc())
    top2 = cand.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= 2)
    own = top2.filter(F.col("__rk") == 1).select(
        "__id", F.col("__cid").alias("center_id"), F.col("__d2").alias("__a2")
    )
    nxt = top2.filter(F.col("__rk") == 2).select("__id", F.col("__d2").alias("__b2"))
    scored = own.join(nxt, "__id").select(
        "center_id",
        F.expr(
            "cast(round((sqrt(cast(__b2 as double)) - sqrt(cast(__a2 as double)))"
            " / greatest(sqrt(cast(__b2 as double)), 1e-300) * 1000000) as bigint)"
        ).alias("__s"),
    )
    return (
        scored.groupBy("center_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("__s").cast("long").alias("__sum"),
        )
        .select(
            "center_id",
            "n_points",
            F.expr(
                "((__sum) - ((((__sum) % n_points) + n_points) % n_points))"
                " div n_points"
            )
            .cast("long")
            .alias("mean_silhouette_micro"),
        )
        .orderBy("center_id")
    )
