"""Great-circle (haversine) geo joins — the spherical sibling of the
planar grid family in operators/geo.py.

Planar grids (q177/q184) are right for local/projected coordinates;
real lat/lon needs spherical distance — at Oslo's latitude a degree
of longitude is half a degree of ground, and a planar radius join
either misses neighbors or over-probes by 2×. This module does the
production pattern: latitude-band grid blocking with a
longitude-compensated cell width, then the exact haversine check.

Blocking: cells are ``radius_km``-sized in latitude degrees
(1° lat ≈ 111.195 km everywhere) and widened in longitude by
1/cos(MAX_ABS_LAT) — the worst case over the declared operating band,
so every true neighbor pair shares a 3×3 cell neighborhood by
construction. ``MAX_ABS_LAT`` (66°: below the polar circles)
is a CONTRACT — points beyond it raise (woven guard) rather than
silently missing pairs; polar data needs a different blocking
(s2-style), not a silently wrong one.

Determinism: cell ids are exact integer floor-divisions of
micro-degree integers (lat/lon are snapped to 1e-6° BIGINTs first —
GPS precision, exact in any engine). The one float stage, the
haversine itself, follows the library's quantize-before-compare rule:
the haversine kernel h is rounded at 12 decimals (collapsing libm
sin/cos 1-ulp wobble) before asin, and the distance at 6 before the
radius comparison — both engines execute the identical op sequence.

Per-task bound: 9 × cell occupancy per point (the q177 argument);
a dense city needs a smaller radius or a pre-aggregated grid, and the
candidate explosion is visible in the plan as the ×9 explode, never a
cross join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: km per degree of latitude (mean Earth radius 6371.0088 km)
KM_PER_DEG_LAT = 111.19492664455873
EARTH_RADIUS_KM = 6371.0088
#: The latitude band the radius join's blocking covers; rows outside raise.
MAX_ABS_LAT = 66.0


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in km between two (degree, double)
    coordinate pairs, as a Column; kernel quantized at 12 decimals
    and the result rounded at 6 (engine-portable)."""
    rad = math.pi / 180.0
    phi1, phi2 = lat1 * F.lit(rad), lat2 * F.lit(rad)
    dphi = (lat2 - lat1) * F.lit(rad)
    dlmb = (lon2 - lon1) * F.lit(rad)
    h = F.round(
        F.pow(F.sin(dphi / 2), 2)
        + F.cos(phi1) * F.cos(phi2) * F.pow(F.sin(dlmb / 2), 2),
        12,
    )
    return F.round(
        F.lit(2.0 * EARTH_RADIUS_KM)
        * F.asin(F.least(F.lit(1.0), F.sqrt(h))),
        6,
    )


def haversine_radius_join(
    points: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_km: float,
) -> DataFrame:
    """All unordered point pairs within ``radius_km`` great-circle km:
    ``(id_a, id_b, dist_km)`` with id_a < id_b, dist rounded at 6.
    Coordinates are snapped to exact micro-degree integers; points
    with |lat| > ``MAX_ABS_LAT`` (or null coords) raise — see the
    module docheader's blocking contract.
    """
    if radius_km <= 0:
        raise ValueError(f"haversine_radius_join: radius_km must be > 0, got {radius_km}")
    lat_cell_micro = int(round(radius_km / KM_PER_DEG_LAT * 1_000_000))
    lon_cell_micro = int(
        round(
            radius_km
            / (KM_PER_DEG_LAT * math.cos(math.radians(MAX_ABS_LAT)))
            * 1_000_000
        )
    )
    lat_u0 = F.round(F.col(lat_col) * 1_000_000).cast("long")
    lon_u0 = F.round(F.col(lon_col) * 1_000_000).cast("long")
    bad = (
        lat_u0.isNull()
        | lon_u0.isNull()
        | (F.abs(lat_u0) > int(MAX_ABS_LAT * 1_000_000))
    )
    lat_u = F.when(
        bad,
        F.raise_error(
            F.lit(
                f"haversine_radius_join: null coordinate or |lat| > "
                f"{MAX_ABS_LAT}° — outside the declared blocking band "
                "(polar data needs s2-style cells, not silent misses)"
            )
        ).cast("long"),
    ).otherwise(lat_u0)
    pts = points.select(
        F.col(id_col).alias("__id"),
        lat_u.alias("__latu"),
        lon_u0.alias("__lonu"),
    )
    cell_lat = F.expr(f"__latu div {lat_cell_micro} - (CASE WHEN __latu < 0 AND __latu % {lat_cell_micro} != 0 THEN 1 ELSE 0 END)")
    cell_lon = F.expr(f"__lonu div {lon_cell_micro} - (CASE WHEN __lonu < 0 AND __lonu % {lon_cell_micro} != 0 THEN 1 ELSE 0 END)")
    based = pts.withColumn("__cla", cell_lat).withColumn("__clo", cell_lon)
    # LEFT side explodes to its 3x3 neighborhood; RIGHT side keeps its
    # home cell -> every unordered pair meets exactly once (one
    # (da, do) offset reaches the home cell, and id_a < id_b keeps
    # only the probe-from-the-smaller-id copy)
    probe = (
        based.withColumn("__da", F.expr("explode(array(-1, 0, 1))"))
        .withColumn("__do", F.expr("explode(array(-1, 0, 1))"))
        .select(
            F.col("__id").alias("__ida"),
            F.col("__latu").alias("__lata"),
            F.col("__lonu").alias("__lona"),
            (F.col("__cla") + F.col("__da")).alias("__pcla"),
            (F.col("__clo") + F.col("__do")).alias("__pclo"),
        )
    )
    home = based.select(
        F.col("__id").alias("__idb"),
        F.col("__latu").alias("__latb"),
        F.col("__lonu").alias("__lonb"),
        F.col("__cla").alias("__pcla"),
        F.col("__clo").alias("__pclo"),
    )
    cand = probe.join(home, ["__pcla", "__pclo"]).filter(
        F.col("__ida") < F.col("__idb")
    )
    d = haversine_km(
        F.col("__lata").cast("double") / 1e6,
        F.col("__lona").cast("double") / 1e6,
        F.col("__latb").cast("double") / 1e6,
        F.col("__lonb").cast("double") / 1e6,
    )
    return (
        cand.withColumn("dist_km", d)
        .filter(F.col("dist_km") <= float(radius_km))
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            "dist_km",
        )
    )
