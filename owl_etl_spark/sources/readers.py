"""Sources: parquet star schema, JSON document staging, skip lists.

Covers the reference's scan surface (SURVEY.md §2.1 S1-S7):
- S4/S5 JSON folder scans with glob include/exclude → ``read_fic_json``
- S6 skip-list file reader → ``read_skip_list``
- P9 filename-metadata extraction → ``with_file_metadata``
- plus the driver's synthetic star schema → ``read_table``/``read_events``.

Everything returns plain DataFrames; filters/projections applied
downstream push into the parquet scan via Catalyst (verify with
``df.explain()`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _ensure_nanos_conf(spark: SparkSession) -> None:
    # The synthetic events table is TIMESTAMP(NANOS); Spark's reader
    # rejects it unless nanos are surfaced as long (we convert below).
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # immutable conf on some builds; session.get_spark sets it at build time


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic star-schema table (see TESTDATA.md)."""
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with ``ts`` normalized to a micro-precision timestamp.

    The file stores nanoseconds-since-epoch; we floor-divide to micros
    so values agree with engines that truncate nanos (e.g. DuckDB).
    """
    _ensure_nanos_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        # timestampadd on a TIMESTAMP_NTZ epoch is timezone-independent;
        # timestamp_micros() would yield TIMESTAMP_LTZ and shift with the
        # session timezone (breaking determinism vs UTC-naive engines).
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def with_file_metadata(df: DataFrame) -> DataFrame:
    """Derive per-file metadata columns from the input file name (P9).

    The reference threads bank/fund/year/month parsed from paths like
    ``data/json_raw_<year>_<month>/<bank>_<fund>_raw.json``
    (reference: src/etl/transform.py:181-199,
    src/scripts/script_transform.py:23-46). Here it is four
    ``regexp_extract`` columns over ``input_file_name()`` — evaluated
    at scan time, no extra pass.
    """
    # input_file_name() percent-encodes (spaces -> %20); decode so
    # filename-derived keys match the on-disk names
    raw_name = F.element_at(F.split(F.input_file_name(), "/"), -1)
    raw_folder = F.element_at(F.split(F.input_file_name(), "/"), -2)
    fname = F.coalesce(F.expr(f"try_url_decode({raw_name._jc.toString()})"), raw_name)
    folder = F.coalesce(F.expr(f"try_url_decode({raw_folder._jc.toString()})"), raw_folder)
    return (
        df.withColumn("_filename", fname)
        # Full decoded path: the reference layout repeats the same
        # <bank>_<fund>_raw.json basename across monthly folders
        # (data/json_raw_<year>_<month>/), so the basename alone is NOT a
        # per-record key — dedup/top-1 windows must key on _filepath.
        .withColumn(
            "_filepath",
            F.coalesce(
                F.expr(f"try_url_decode({F.input_file_name()._jc.toString()})"),
                F.input_file_name(),
            ),
        )
        .withColumn("banco", F.regexp_extract(fname, r"^([^_]+)_", 1))
        .withColumn(
            "fondo",
            F.regexp_extract(fname, r"^[^_]+_(.+?)_raw(?:_transformed)?\.json$", 1),
        )
        .withColumn("anio", F.regexp_extract(folder, r".*?[_-]?(\d{4})[_-](\d{1,2})$", 1))
        .withColumn("mes", F.regexp_extract(folder, r".*?[_-]?(\d{4})[_-](\d{1,2})$", 2))
    )


def read_fic_json(
    spark: SparkSession,
    path: str,
    schema,
    include_glob: str = "*.json",
    exclude_suffix: str | None = "_transformed.json",
) -> DataFrame:
    """JSON document scan with glob include + suffix exclude (S4/F2).

    ``multiLine`` because each staged file is one pretty-printed
    document. An explicit schema keeps absent fields as nulls instead
    of failing (the reference repairs structure defensively —
    src/etl/transform.py:755-784; we read permissively then apply
    ``operators.quality.repair_structure``).
    """
    reader = spark.read.option("multiLine", "true").option("pathGlobFilter", include_glob)
    df = reader.schema(schema).json(path)
    df = with_file_metadata(df)
    if exclude_suffix:
        df = df.filter(~F.col("_filename").endswith(exclude_suffix))
    return df


def read_skip_list(spark: SparkSession, path: str) -> DataFrame:
    """Skip-list text file → one-column DataFrame of normalized stems (S6).

    Format per the reference (src/scripts/script_load.py:154-187):
    one name per line, ``#`` comments, blank lines ignored; names are
    normalized to the ``*_transformed.json`` form. Used as the
    broadcast side of an anti-join (``operators.quality.anti_filter``).
    """
    lines = spark.read.text(path)
    stems = (
        lines.select(F.trim("value").alias("name"))
        .filter((F.col("name") != "") & ~F.col("name").startswith("#"))
        .select(
            F.when(
                F.col("name").endswith("_transformed.json"), F.col("name")
            )
            .when(
                F.col("name").endswith(".json"),
                F.concat(F.regexp_replace("name", r"\.json$", ""), F.lit("_transformed.json")),
            )
            .otherwise(F.concat(F.col("name"), F.lit("_transformed.json")))
            .alias("skip_name")
        )
        .distinct()
    )
    return stems


def derive_metadata_from_filename(df: DataFrame, filename_col: str = "filename") -> DataFrame:
    """P9 for staged layers: banco/fondo/anio/mes from a filename COLUMN
    (staged JSONL rows carry the original name as data; the physical
    part-file name is meaningless)."""
    out = df
    if filename_col != "_filename":
        out = out.withColumnRenamed(filename_col, "_filename")
    f = F.col("_filename")
    date_y = F.regexp_extract(f, r"(\d{4})[_-](\d{1,2})", 1)
    date_m = F.regexp_extract(f, r"(\d{4})[_-](\d{1,2})", 2)
    return (
        out.withColumn("banco", F.regexp_extract(f, r"^([^_]+)_", 1))
        .withColumn("fondo", F.regexp_extract(f, r"^[^_]+_(.+?)(?:_raw)?\.(?:json|pdf)$", 1))
        .withColumn("anio", F.when(date_y == "", None).otherwise(date_y))
        .withColumn("mes", F.when(date_m == "", None).otherwise(date_m))
    )


