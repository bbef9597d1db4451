"""Z-order (Morton) curve indexing: multi-dimensional locality in one
sort key.

The 100 TB layout operator: range-partitioning by a bit-interleaved
key keeps rows close in EVERY indexed dimension close on disk, so a
scan filtered on any subset of the dimensions prunes most files —
what Delta/Iceberg OPTIMIZE ZORDER does, expressed as plain columnar
arithmetic. Interleaving is pure per-row bit math (whole-stage
codegen, zero shuffle); the payoff step is a range repartition on the
z-value, whose exchange is the ONE shuffle a re-layout inherently costs.

Determinism: inputs must already be non-negative ints < 2^bits
(callers normalize via pmod/bucketing/rank — value-to-cell mapping is
the caller's semantic choice, not hidden here); out-of-range values
RAISE rather than silently aliasing distant cells together. The
z-value is a sum of disjoint bit terms — identical on any engine with
integer shifts.

The k-column operator surface has an explicit range contract instead
of silent scaling, any number of dimensions, and an oracle-gated
query (q166). Dimension i owns the bit positions ≡ i mod k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_expr(cols: list[str], bits: int) -> F.Column:
    """The interleaved Morton code of ``cols`` (low dimension index =
    low interleave position): Σ_b Σ_i ((x_i >> b) & 1) << (b·k + i),
    built from disjoint terms so `+` is bit-OR."""
    k = len(cols)
    if k < 2:
        raise ValueError("zorder_expr: need at least 2 columns")
    if bits * k > 62:
        raise ValueError(f"zorder_expr: {bits} bits x {k} cols exceeds BIGINT")
    terms = []
    for i, c in enumerate(cols):
        for b in range(bits):
            terms.append(
                f"(shiftleft((shiftright(CAST({c} AS BIGINT), {b}) & 1), {b * k + i}))"
            )
    return F.expr(" + ".join(terms))


def zorder_index(
    df: DataFrame, cols: list[str], bits: int = 16
) -> DataFrame:
    """Attach ``zvalue``: the Morton code of ``cols``. Each input
    must be a non-negative integer < 2^bits (raises otherwise)."""
    checked = df
    limit = 1 << bits
    for c in cols:
        x = F.col(c).cast("long")
        checked = checked.withColumn(
            c,
            F.when(
                x.isNull() | (x < 0) | (x >= limit),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"zorder_index: {c} must be in [0, {limit}), got "
                        ),
                        F.coalesce(x.cast("string"), F.lit("NULL")),
                    )
                ).cast("long"),
            ).otherwise(x),
        )
    return checked.withColumn("zvalue", zorder_expr(cols, bits).cast("long"))


def zone_map_report(
    df: DataFrame,
    bucket_col: F.Column | str,
    value_col: str,
    probe_lo: int,
    probe_hi: int,
) -> DataFrame:
    """Data-skipping diagnosis: per storage bucket, the zone-map
    (min/max) of ``value_col`` and whether a range probe
    ``[probe_lo, probe_hi]`` could SKIP the bucket entirely —
    ``(bucket, n_rows, min_v, max_v, would_scan)``. The aggregate
    ``sum(n_rows) where would_scan`` over this report is exactly the
    I/O a zone-map-aware scan pays, which is how you quantify whether
    a layout (natural order, sort, z-order range repartition) actually
    earns its shuffle before rewriting 100 TB.

    One map-side-combinable groupBy on the bucket id; min/max are
    exact BIGINTs; a bucket whose value column is entirely null has a
    null zone and must be scanned (nulls are invisible to min/max —
    the classic zone-map soundness trap, handled here by treating a
    null zone as overlapping).
    """
    if probe_hi < probe_lo:
        raise ValueError(
            f"zone_map_report: need probe_lo <= probe_hi, got [{probe_lo}, {probe_hi}]"
        )
    b = F.expr(bucket_col) if isinstance(bucket_col, str) else bucket_col
    g = df.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(F.col(value_col).cast("long")).alias("min_v"),
        F.max(F.col(value_col).cast("long")).alias("max_v"),
    )
    overlaps = (F.col("min_v") <= probe_hi) & (F.col("max_v") >= probe_lo)
    return g.select(
        "bucket",
        "n_rows",
        "min_v",
        "max_v",
        F.when(F.col("min_v").isNull(), F.lit(True)).otherwise(overlaps).alias(
            "would_scan"
        ),
    )


def hilbert_index(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 10,
) -> DataFrame:
    """Attach ``hvalue``: the 2-D Hilbert-curve index of
    (``x_col``, ``y_col``) — the layout key that strictly dominates
    the Morton code (q166) on locality: the Hilbert curve never takes
    the long diagonal jumps z-ordering suffers at power-of-two
    boundaries, so equal-width key ranges have tighter x/y envelopes
    and a box predicate touches fewer files (what q318 measures
    against q166's readout on identical cells).

    The classic per-level rotate recurrence (Wikipedia xy2d), unrolled
    ``bits`` times as chained column projections — each level reads
    the previous level's (x, y, d) columns BY NAME, so the plan grows
    linearly (a textual substitution would double per level). Inputs
    must be non-negative ints < 2^bits (raises otherwise, the
    zorder_index contract). Pure integer shifts/masks/xor — engine-
    exact; the SQL oracle replays levels as chained CTEs.
    """
    limit = 1 << bits
    checked = df
    for c in (x_col, y_col):
        x = F.col(c).cast("long")
        checked = checked.withColumn(
            c,
            F.when(
                x.isNull() | (x < 0) | (x >= limit),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"hilbert_index: {c} must be in [0, {limit}), got "
                        ),
                        F.coalesce(x.cast("string"), F.lit("NULL")),
                    )
                ).cast("long"),
            ).otherwise(x),
        )
    n1 = limit - 1
    out = (
        checked.withColumn("__hx", F.col(x_col).cast("long"))
        .withColumn("__hy", F.col(y_col).cast("long"))
        .withColumn("__hd", F.lit(0).cast("long"))
    )
    s = limit >> 1
    while s > 0:
        rx = F.when(F.col("__hx").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(F.col("__hy").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        out = (
            out.withColumn("__rx", rx.cast("long"))
            .withColumn("__ry", ry.cast("long"))
            .withColumn(
                "__hd",
                F.col("__hd")
                + F.lit(s * s) * (F.lit(3) * F.col("__rx")).bitwiseXOR(F.col("__ry")),
            )
            .withColumn(
                "__tx",
                F.when(
                    F.col("__ry") == 0,
                    F.when(F.col("__rx") == 1, F.lit(n1) - F.col("__hy")).otherwise(
                        F.col("__hy")
                    ),
                ).otherwise(F.col("__hx")),
            )
            .withColumn(
                "__hy",
                F.when(
                    F.col("__ry") == 0,
                    F.when(F.col("__rx") == 1, F.lit(n1) - F.col("__hx")).otherwise(
                        F.col("__hx")
                    ),
                ).otherwise(F.col("__hy")),
            )
            .withColumn("__hx", F.col("__tx"))
        )
        s >>= 1
    return out.withColumn("hvalue", F.col("__hd")).drop(
        "__hx", "__hy", "__hd", "__rx", "__ry", "__tx"
    )
