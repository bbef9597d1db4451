"""Golden-diff / reliability harness (SURVEY.md §2.4 J5, §2.5 A4-A5).

The reference validates its ETL by pairing each output with a
human-verified twin, diffing recursively with float tolerance, and
scoring reliability = (1 - diffs/fields)·100 with per-field and
per-group report sheets (reference: src/scripts/test_ETL.py).

Distributed form: a column-wise full-outer comparison operator that
returns a tidy diff DataFrame (one row per differing field per key),
plus reliability aggregation. Works on arbitrarily wide/large tables —
the join is the only shuffle; per-column comparison is projection-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def diff_tables(
    actual: DataFrame,
    expected: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Field-level diff of two tables on a shared key.

    Output: one row per (key, field) that differs —
    ``(*keys, campo, valor_actual, valor_esperado, estado)`` with
    estado ∈ {DIFERENTE, MISSING_ACTUAL, MISSING_EXPECTED} — the
    reference's diff record shape (test_ETL.py:51-124). Floats compare
    within 1e-10; everything else by string equality with
    null-safe semantics.
    """
    compare_cols = [c for c in actual.columns if c not in keys and c in expected.columns]
    a = actual.alias("a")
    e = expected.alias("e")
    cond = [F.col(f"a.{k}").eqNullSafe(F.col(f"e.{k}")) for k in keys]
    joined = a.join(e, cond, "full_outer")
    key_cols = [F.coalesce(F.col(f"a.{k}"), F.col(f"e.{k}")).alias(k) for k in keys]
    a_missing = F.col(f"a.{keys[0]}").isNull()
    e_missing = F.col(f"e.{keys[0]}").isNull()

    diffs = []
    for c in compare_cols:
        av, ev = F.col(f"a.{c}"), F.col(f"e.{c}")
        dtype = dict(actual.dtypes).get(c)
        if dtype in ("double", "float"):
            differs = ~(
                av.eqNullSafe(ev)
                | (av.isNotNull() & ev.isNotNull() & (F.abs(av - ev) <= 1e-10))
            )
        else:
            differs = ~av.eqNullSafe(ev)
        diffs.append(
            F.when(
                a_missing | e_missing | differs,
                F.struct(
                    F.lit(c).alias("campo"),
                    av.cast("string").alias("valor_actual"),
                    ev.cast("string").alias("valor_esperado"),
                    F.when(a_missing, "MISSING_ACTUAL")
                    .when(e_missing, "MISSING_EXPECTED")
                    .otherwise("DIFERENTE")
                    .alias("estado"),
                ),
            )
        )
    return (
        joined.select(
            *key_cols,
            F.explode(
                F.filter(F.array(*diffs), lambda x: x.isNotNull())
            ).alias("d"),
        )
        .select(*keys, "d.campo", "d.valor_actual", "d.valor_esperado", "d.estado")
    )


def reliability_report(
    actual: DataFrame,
    expected: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Per-key reliability score = (1 - diffs/compared_fields)·100
    (reference formula test_ETL.py:180-184)."""
    compare_cols = [c for c in actual.columns if c not in keys and c in expected.columns]
    n_fields = len(compare_cols)
    d = diff_tables(actual, expected, keys)
    per_key = d.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_diffs"))
    return (
        actual.select(*keys)
        .union(expected.select(*keys))
        .distinct()
        .join(per_key, keys, "left")
        .withColumn("n_diffs", F.coalesce(F.col("n_diffs"), F.lit(0)))
        .withColumn(
            "confiabilidad",
            F.round((1 - F.col("n_diffs") / F.lit(n_fields)) * 100, 2),
        )
    )


def bucket_checksum_diff(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    payload_cols: list[str],
    n_buckets: int = 256,
) -> DataFrame:
    """Merkle-style table reconciliation: compare two snapshots by
    per-bucket CHECKSUMS instead of rows — the only way to answer "are
    these two 100 TB copies identical, and where do they differ?"
    without shipping either table (cross-region replicas, pre/post
    migration, vendor hand-offs).

    Each row hashes to a portable 60-bit integer over its key+payload
    (md5 — identical in any engine); rows bucket by a hash of the key;
    each side reduces to ``n_buckets`` fingerprint rows: count,
    XOR-fold, and a mod-P sum of row hashes (XOR alone is blind to an
    even number of repeats of the same row; the mod-P sum is blind to
    reorderings XOR catches — together they make collisions
    vanishingly unlikely). The shuffle carries 2·n_buckets fingerprint
    rows TOTAL — bytes, not tables; mismatched buckets then scope any
    row-level drill-down to 1/n_buckets of the data each.

    Returns one row per bucket: (bucket, n_a, n_b, match) via a full
    outer join of the two fingerprint sets (a bucket empty on one side
    still reports). Deterministic: every aggregate is order-independent
    (count / xor / modular sum).
    """
    from owl_etl_spark.functions.hashing import md5_long

    # per-row terms reduce mod 2^31-1 BEFORE the sum so a bucket of up
    # to 2^32 rows sums without BIGINT overflow in any engine
    P = 2_147_483_647

    def fingerprint(df: DataFrame, n_col: str, x_col: str, s_col: str) -> DataFrame:
        # hash each column SEPARATELY, then hash the fixed-width digest
        # concatenation: a '|'-joined payload is ambiguous when values
        # contain the separator ('x|y','z' ≡ 'x','y|z'), and a NULL
        # sentinel collides with a real value equal to it — per-column
        # 32-hex digests (NULL → the 4-char token 'NULL', which no hex
        # digest can equal) make the serialization injective.
        payload = F.concat(
            *[
                F.coalesce(F.md5(F.col(c).cast("string")), F.lit("NULL"))
                for c in [key_col, *payload_cols]
            ]
        )
        h = md5_long(payload)
        bucket = F.pmod(md5_long(F.col(key_col).cast("string")), F.lit(n_buckets))
        return (
            df.select(bucket.alias("bucket"), h.alias("__h"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias(n_col),
                F.expr("bit_xor(__h)").cast("long").alias(x_col),
                F.sum(F.pmod(F.col("__h"), F.lit(P))).cast("long").alias(s_col),
            )
        )

    fa = fingerprint(a, "n_a", "__xa", "__sa")
    fb = fingerprint(b, "n_b", "__xb", "__sb")
    joined = fa.join(fb, "bucket", "full_outer")
    match = (
        (F.coalesce("n_a", F.lit(0)) == F.coalesce("n_b", F.lit(0)))
        & (F.coalesce("__xa", F.lit(0)) == F.coalesce("__xb", F.lit(0)))
        & (F.coalesce("__sa", F.lit(0)) == F.coalesce("__sb", F.lit(0)))
    )
    return joined.select(
        "bucket",
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        match.alias("match"),
    )
