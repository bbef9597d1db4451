"""Portable hashing primitives: md5-derived integer hashes, MinHash
signatures, SimHash fingerprints.

Why md5 and not ``xxhash64``/``hash``: engine-portable determinism.
An md5 hex prefix parsed as an integer gives the same value in Spark,
DuckDB, Trino, and plain Python — which makes every hash-based
operator here independently verifiable by an external oracle. At
scale the cost difference vs xxhash64 is dwarfed by shuffle I/O, and
``xxhash64`` variants are provided where only Spark-side consistency
is needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 15 hex chars = 60 bits — always fits a signed BIGINT in every engine.
_HEX_CHARS = 15


def md5_long(col: Column) -> Column:
    """Text → unsigned 60-bit integer via md5 hex prefix."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_CHARS), 16, 10).cast("bigint")


def md5_long_seeded(col: Column, seed: int) -> Column:
    """Seeded variant: the seed is mixed into the hashed text. Gives a
    family of independent hash functions for MinHash."""
    return md5_long(F.concat(col, F.lit(f"#{seed}")))


#: Modulus of the affine MinHash family — the Mersenne prime 2^31-1.
#: Residues are < 2^31, so a*h + b < 2^62 never overflows BIGINT in
#: any engine (the portability constraint that rules out 2^61-1).
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Seeded (a, b) coefficient pairs for the universal-hash family
    ``h_i(x) = (a_i·x + b_i) mod P`` — the standard MinHash
    construction (one base hash, k cheap affine derivations) instead
    of k independent cryptographic hashes. Deterministic: both the
    Spark operators and the SQL oracles regenerate the same literals
    (same trick as the q33 seeded hyperplanes)."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.integers(1, MINHASH_P, size=num_hashes)
    b = rng.integers(0, MINHASH_P, size=num_hashes)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def minhash_signature_sql(shingles_sql: str, num_hashes: int = 16) -> Column:
    """MinHash signature as ``array<bigint>`` over a shingle array.

    ONE md5 per shingle (reduced mod P), then ``num_hashes`` affine
    minima over the integer array — 16x less cryptographic hashing
    than an md5-per-(shingle, seed) family, measured ~6 s → sub-second
    for 5k docs at sf0.1 (higher-order aggregates run interpreted, so
    the md5-per-seed form pays interpreter-dispatch × crypto on every
    element). Entirely intra-row — signatures for a billion docs need
    zero shuffles; only the LSH band join shuffles.

    The base-hash array is bound once via a single-element outer
    ``transform`` (lambda variable ``__h``) so CollapseProject cannot
    re-inline the md5 pass into each of the 16 aggregates.
    """
    base = (
        f"transform({shingles_sql}, s -> "
        f"pmod(CAST(conv(substring(md5(s), 1, {_HEX_CHARS}), 16, 10) AS BIGINT), {MINHASH_P}))"
    )
    sigs = ", ".join(
        f"aggregate(__h, CAST({MINHASH_P} AS BIGINT), "
        f"(acc, h) -> least(acc, pmod({a}L * h + {b}L, {MINHASH_P})))"
        for a, b in minhash_coeffs(num_hashes)
    )
    return F.expr(f"element_at(transform(array({base}), __h -> array({sigs})), 1)")


def simhash_sql(tokens_sql: str) -> Column:
    """SimHash fingerprint (bigint) over a token array.

    Per bit position b: sign of Σ_tokens (bit b of md5_long(token) ? +1 : -1);
    fingerprint = Σ_b sign_b · 2^b over 16 bits. Intra-row,
    shuffle-free. 16 bits (≤ 60, the md5_long width) is enough for
    bucketing-style near-dup candidate generation; use 64-bit xxhash
    variants when oracle portability is not needed.
    """
    base = (
        f"transform({tokens_sql}, t -> "
        f"CAST(conv(substring(md5(t), 1, {_HEX_CHARS}), 16, 10) AS BIGINT))"
    )
    terms = []
    for b in range(16):
        # one md5 pass total (bound as __h below), then per-bit votes
        # over the integer array — md5-inside-every-vote costs 16×
        # the crypto plus interpreter dispatch on each element
        # shiftright(), not the ">>" operator: the SQL parser rejects
        # ">>" when its left operand is a bare lambda variable
        vote = f"aggregate(__h, 0L, (acc, h) -> acc + (CASE WHEN shiftright(h, {b}) % 2 = 1 THEN 1L ELSE -1L END))"
        terms.append(f"(CASE WHEN ({vote}) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0L END)")
    return F.expr(f"element_at(transform(array({base}), __h -> {' + '.join(terms)}), 1)")


def hashed_features(
    df,
    id_col: str,
    text_col: str,
    num_buckets: int = 64,
):
    """The feature-hashing trick (Weinberger et al.): tokens →
    ``num_buckets`` signed counts, the fixed-width featurizer that
    turns unbounded vocabularies into model-ready vectors with NO
    vocabulary state to build, ship, or keep consistent — the
    property that matters at 100 TB (a vocab dim is a bottleneck; a
    hash function is free and identical on every executor forever).

    Per token: bucket = md5_long(tok) pmod k; sign = +1/−1 from an
    independent hash bit (bit 16 — disjoint from the pmod bits for
    any k ≤ 2^16, so sign and bucket are independent, the unbiasedness
    trick that makes collisions cancel in expectation). Output: one
    row per (id, bucket) with the exact BIGINT signed count; zero-sum
    buckets are dropped (sparse form — union a dense spine downstream
    if needed).

    Plan: tokenize+explode (map-side) → one (id, bucket) groupBy.
    Exact integers end-to-end; the SQL twin uses the same
    '0x'||md5-prefix device as every hash oracle in the repo.
    """
    from pyspark.sql import functions as F  # noqa: F811 (module-local alias)

    from owl_etl_spark.functions.text import normalize_text, tokens

    if num_buckets < 1 or num_buckets > 65536:
        raise ValueError(
            f"hashed_features: num_buckets must be in [1, 65536], got {num_buckets}"
        )
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok"),
    )
    h = md5_long(F.col("tok"))
    bucket = F.pmod(h, F.lit(int(num_buckets))).cast("long")
    sign = F.when((h.bitwiseAND(F.lit(1 << 16))) == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        toks.select("__id", bucket.alias("bucket"), sign.alias("__s"))
        .groupBy("__id", "bucket")
        .agg(F.sum("__s").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
        .select(F.col("__id").alias(id_col), "bucket", "weight")
    )
