"""Sinks (SURVEY.md §2.1 S8-S14): partitioned staging writers, the
skip-list sink, gold-table writers with upsert semantics.

The reference writes one pretty-printed JSON file per document into
``data/json_raw_<year>_<month>/`` folders and upserts per-document
into Postgres. Distributed form: partitioned columnar writes (the
folder convention becomes a partition spec — partition pruning for
free) and snapshot-merge writes for gold tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_staged_parquet(df: DataFrame, path: str, partition_cols: tuple[str, ...] = ("anio", "mes"), mode: str = "overwrite") -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_skip_list(df: DataFrame, stem_col, path: str) -> None:
    """S12: quarantine sink — one file-stem per line, header comment,
    consumable by sources.read_skip_list. Coalesced to 1 file (skip
    lists are tiny by construction)."""
    (
        df.select(F.col(stem_col).cast("string").alias("value"))
        .distinct()
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def write_gold_snapshot(tables: dict[str, DataFrame], base_path: str, mode: str = "overwrite") -> None:
    """S10: write all gold tables from one silver snapshot.

    Plain parquet overwrite = full-refresh semantics. For incremental
    loads, merge with ``operators.latest.upsert_by_recency`` against the
    previous snapshot before writing (Delta MERGE being the managed-
    table equivalent); cross-table atomicity is documented as weaker
    than the reference's per-document transaction (SURVEY.md §7.4) —
    idempotent reruns from the same snapshot converge.
    """
    for name, df in tables.items():
        df.write.mode(mode).parquet(f"{base_path}/{name}")


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """Postgres-parity sink (S10 exact-target variant, reference
    src/etl/load.py:76-151): ``df.write.jdbc`` with batch sizing
    options (pass ``batchsize=`` to size the executor-side INSERT
    batches — the knob that matters at scale). Exercised E2E against
    Spark's bundled embedded Derby engine (tests/test_jdbc_roundtrip.py:
    round-trip, append/overwrite SaveModes, the recency-merge gold-table
    flow, batched multi-thousand-row writes); a deployment swaps only
    the URL/driver for Postgres."""
    df.write.mode(mode).options(**options).jdbc(url, table)


def write_partition_overwrite(
    df: DataFrame, path: str, partition_cols: tuple[str, ...] = ("anio", "mes")
) -> None:
    """Monthly-load upsert without a transactional table format:
    dynamic partition overwrite replaces ONLY the partitions present in
    ``df`` (the arriving month), leaving history untouched — the
    reference's per-month reload semantics at warehouse scale. The
    conf flip is scoped to this write.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    target_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partition by ``sort_cols`` then sort within partitions
    before writing: rows with nearby keys land in the same files, so
    parquet min/max statistics make later point/range scans on those
    keys prune whole files (poor man's clustering/Z-order for the
    single-key case). At 100 TB this is the difference between a
    needle lookup touching ~1 file and touching all of them."""
    out = df.repartitionByRange(*sort_cols) if target_partitions is None else (
        df.repartitionByRange(target_partitions, *sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``max(min_files, ceil(bytes / target))`` files. Streaming sinks
    and per-batch incremental loads (the engine's monthly-drop
    contract) accumulate tiny files that poison scan planning at
    scale — NameNode/listing pressure and one task per splinter file.
    Returns the output file count. Coalesce (not repartition): a pure
    read-merge-write with no shuffle."""
    import math

    df = spark.read.parquet(path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = sum(
        s.getLen()
        for s in fs.listStatus(jvm_path)
        if s.getPath().getName().endswith(".parquet")
    )
    n = max(min_files, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "__compact_tmp"
    df.coalesce(n).write.mode("overwrite").parquet(tmp)
    fs.delete(jvm_path, True)
    fs.rename(spark._jvm.org.apache.hadoop.fs.Path(tmp), jvm_path)
    return n


def write_excel_report(tables: dict[str, DataFrame], path: str) -> None:
    """S13: multi-sheet xlsx report sink — stdlib-only (xlsx is a zip
    of XML parts; no openpyxl in this environment, none needed).

    The reference emits a 4-sheet validation workbook driver-side
    (src/scripts/test_ETL.py:305-323). Same contract here: report
    tables are SMALL aggregates (diff summaries, reliability scores),
    so ``.toPandas()`` per sheet is the correct driver-side move — the
    heavy lifting happened in the DataFrames that produced them. Not
    for bulk data export; that's the parquet writers' job.

    Strings are written as inline strings (no sharedStrings part),
    numbers as native numeric cells, None as blank.
    """
    import zipfile
    from xml.sax.saxutils import escape

    def col_letter(i: int) -> str:
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    def sheet_xml(pdf) -> str:
        rows = ['<row r="1">']
        for ci, name in enumerate(pdf.columns):
            rows.append(
                f'<c r="{col_letter(ci)}1" t="inlineStr"><is><t>{escape(str(name))}</t></is></c>'
            )
        rows.append("</row>")
        for ri, (_, row) in enumerate(pdf.iterrows(), start=2):
            rows.append(f'<row r="{ri}">')
            for ci, v in enumerate(row):
                ref = f"{col_letter(ci)}{ri}"
                if v is None or (isinstance(v, float) and v != v):
                    continue
                if isinstance(v, bool):
                    rows.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
                elif isinstance(v, (int, float)):
                    rows.append(f'<c r="{ref}"><v>{v!r}</v></c>')
                else:
                    rows.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'
                    )
            rows.append("</row>")
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{''.join(rows)}</sheetData></worksheet>"
        )

    names = [
        (str(n)[:31].replace("/", "_").replace("\\", "_") or f"Sheet{i + 1}")
        for i, n in enumerate(tables)
    ]
    sheets_meta = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{sheets_meta}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        + "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, df in enumerate(tables.values()):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", sheet_xml(df.toPandas()))
