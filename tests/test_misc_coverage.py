"""Coverage for the remaining library surface: similarity UDF parity
with difflib, text shingles, SQL-text wrappers over operator-built
columns, connected components, the CLI pipeline and the distinct-overlap
estimate."""

from __future__ import annotations
import pytest

from difflib import SequenceMatcher

from pyspark.sql import functions as F


def test_difflib_ratio_udf_parity(spark):
    from owl_etl_spark.functions.similarity import difflib_ratio, lcs_ratio

    pairs = [
        ("BRC Investors Servic", "BRC Investor Services"),
        ("fitch ratings", "fitch"),
        ("abc", "xyz"),
        ("", "x"),
    ]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = df.select("a", "b", difflib_ratio("a", "b").alias("d"), lcs_ratio("a", "b").alias("l")).collect()
    for r in got:
        expected = SequenceMatcher(None, r.a.lower(), r.b.lower()).ratio()
        assert abs(r.d - expected) < 1e-12, (r.a, r.b)
        # LCS ratio: 2*lcs/(len_a+len_b)
        if r.a and r.b:
            assert 0.0 <= r.l <= 1.0


def test_word_shingles(spark):
    from owl_etl_spark.functions.text import word_shingles

    df = spark.createDataFrame([("a b c d",), ("xy",)], ["t"])
    rows = df.select(word_shingles(F.col("t"), 2).alias("ws")).collect()
    assert rows[0].ws == ["a b", "b c", "c d"]
    assert rows[1].ws == ["xy"]  # shorter than n -> whole text


def test_sql_text_wrappers_take_columns_built_with_operators(spark):
    """Columns built with Python operators (``*``, ``>``) are spliced as
    parseable SQL: each wrapper gives the same rows on them as on the
    same values projected into plain columns first."""
    from owl_etl_spark.functions.dates import parse_fecha_robusta
    from owl_etl_spark.functions.numeric import descale_monetary
    from owl_etl_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [(1, 2500.5, "a b c", "31/12/2024"), (2, 7.0, "d", "2024-01-05"), (3, None, "e f", None)],
        "k int, p double, t string, d string",
    )
    built = {
        "m": F.col("p") * 1000.0,
        "s": F.when(F.col("k") > 1, F.col("t")).otherwise(F.lit("x y z")),
        "f": F.when(F.col("k") > 1, F.col("d")).otherwise(F.lit("2020-01-01")),
    }

    def apply(m, s, f):
        return [
            descale_monetary(m, 10).alias("m"),
            word_shingles(s, 2).alias("s"),
            parse_fecha_robusta(f).alias("f"),
        ]

    direct = df.select("k", *apply(*built.values())).orderBy("k").collect()
    pre = df.select("k", *[c.alias(n) for n, c in built.items()])
    projected = pre.select("k", *apply(F.col("m"), F.col("s"), F.col("f"))).orderBy("k").collect()
    assert direct == projected
    assert direct[0].m == 2500.5 and direct[0].s == ["x y", "y z"]
    assert str(direct[0].f) == "2020-01-01" and str(direct[1].f) == "2024-01-05"


def test_connected_components_chain(spark):
    """A-B and B-C pairs (no direct A-C edge) must land in ONE component
    — the transitive case greedy pair-dropping gets wrong."""
    from owl_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 10, 11]], ["doc_id"])
    out = {r.doc_id: r.component for r in connected_components(pairs, ids).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10}


@pytest.mark.full
def test_cli_pipeline_in_process(spark, tmp_path):
    """Drive the CLI end-to-end in-process: fake PDFs -> gold tables."""
    from owl_etl_spark import cli

    pdfs = tmp_path / "pdfs_2025_07"
    pdfs.mkdir()
    (pdfs / "banco1_fondo uno_2025_07.pdf").write_bytes(b"%PDF fake content A")
    (pdfs / "banco2_fondo dos_2025_07.pdf").write_bytes(b"%PDF fake other content B")
    out = tmp_path / "out"
    rc = cli.main(["--cpus", "4", "pipeline", "--input", str(pdfs), "--output", str(out)])
    assert rc == 0
    fic = spark.read.parquet(str(out / "gold" / "fic"))
    assert fic.count() == 2
    assert set(spark.read.parquet(str(out / "gold" / "composicion_portafolio")).columns) == {
        "fic_id", "tipo_composicion", "categoria", "participacion"
    }


def test_distinct_overlap_estimate_bounds(spark):
    """HLL inclusion–exclusion overlap: on a constructed population
    with known |A|=600, |B|=500, |A∩B|=300, every estimate must land
    within 10% of the union (the operator's documented bound)."""
    from pyspark.sql import functions as F

    from owl_etl_spark.operators.sketches import distinct_overlap_estimate

    # keys 0..299 in both; 300..599 only A; 600..799 only B
    rows = (
        [(k, "a") for k in range(600)]
        + [(k, "b") for k in range(300)]
        + [(k, "b") for k in range(600, 800)]
    )
    df = spark.createDataFrame(rows, ["k", "g"])
    est = distinct_overlap_estimate(
        df, "k", F.col("g") == "a", F.col("g") == "b"
    ).collect()[0]
    union = 800
    assert abs(est.est_a - 600) <= 0.1 * union
    assert abs(est.est_b - 500) <= 0.1 * union
    assert abs(est.est_union - union) <= 0.1 * union
    assert abs(est.est_intersection - 300) <= 0.1 * union
