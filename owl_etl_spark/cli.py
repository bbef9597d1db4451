"""Command-line entry points mirroring the reference's script surface.

Reference CLI (SURVEY.md §3):
- ``py -m src.scripts.script_extract --folder F --workers N``
- ``py -m src.scripts.script_transform --input I --output O``
- ``py -m src.scripts.script_load --input I --skip-list S``
- ``py -m src.scripts.process_folder`` (full pipeline)

Engine CLI::

    python -m owl_etl_spark.cli extract   --input PDF_DIR --output BRONZE
    python -m owl_etl_spark.cli transform --input BRONZE --output SILVER \
        [--lookup fics.json] [--skip-list-out SILVER/skip_list]
    python -m owl_etl_spark.cli load      --input SILVER --output GOLD \
        [--skip-list SKIP]
    python -m owl_etl_spark.cli pipeline  --input PDF_DIR --output BASE

``--workers`` becomes Spark parallelism (``--cpus`` → local[N]); the
per-stage disk staging contract (bronze JSON → silver JSON → gold
tables) is preserved so outputs remain inspectable per stage, exactly
like the reference's folder layout.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _spark(args):
    from owl_etl_spark.session import get_spark

    master = f"local[{args.cpus}]" if args.cpus else None
    return get_spark(app_name=f"owl-etl-{args.cmd}", master=master)


def cmd_extract(args) -> int:
    """S1-S3: binary scan → text extraction → structured bronze JSON."""
    from owl_etl_spark.sources.extract import (
        extract_text,
        read_binary_documents,
        structure_json,
    )

    spark = _spark(args)
    binary = read_binary_documents(spark, args.input, glob=args.glob)
    texts = extract_text(binary)
    ok = texts.filter(F.col("extract_error").isNull())
    failed = texts.filter(F.col("extract_error").isNotNull())
    docs = structure_json(ok)
    docs.write.mode("overwrite").json(args.output)
    n_ok, n_fail = ok.count(), failed.count()
    for r in failed.select("filename", "extract_error").collect():
        print(f"FAILED {r.filename}: {r.extract_error}", file=sys.stderr)
    print(json.dumps({"stage": "extract", "ok": n_ok, "failed": n_fail}))
    return 0 if n_fail == 0 else 1


def _staged_schema(base_schema, extra=("_filename", "banco", "fondo", "anio", "mes")):
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType(list(base_schema.fields) + [StructField(c, StringType()) for c in extra])


def cmd_transform(args) -> int:
    """8-stage FIC transform + F3 date-consistency gate + skip-list.

    Input is either the engine's bronze staging (JSONL with a
    ``filename`` column, from ``extract``) or a reference-style folder
    of one-document-per-file JSONs (``--reference-layout``).
    """
    from owl_etl_spark.operators.quality import date_folder_consistency, split_by_predicate
    from owl_etl_spark.plans.fic_pipeline import transform_fic_documents
    from owl_etl_spark.schemas import FIC_LOOKUP_SCHEMA, FIC_RAW_SCHEMA
    from owl_etl_spark.sources.readers import read_fic_json
    from owl_etl_spark.sources.writers import write_skip_list

    spark = _spark(args)
    if args.reference_layout:
        bronze = read_fic_json(spark, args.input, FIC_RAW_SCHEMA)
    else:
        from owl_etl_spark.sources.readers import derive_metadata_from_filename

        schema = _staged_schema(FIC_RAW_SCHEMA, extra=("filename",))
        raw = spark.read.schema(schema).json(args.input)
        bronze = derive_metadata_from_filename(raw)
    lookup = None
    if args.lookup:
        # {banco: {fic: url}} nested file → flat dimension
        with open(args.lookup) as f:
            nested = json.load(f)
        rows = [(b, fic, url) for b, fics in nested.items() for fic, url in fics.items()]
        lookup = spark.createDataFrame(rows, FIC_LOOKUP_SCHEMA)
    silver = transform_fic_documents(bronze, url_lookup=lookup)
    valid, invalid = split_by_predicate(
        silver,
        date_folder_consistency(F.col("fic.fecha_corte"), F.col("anio"), F.col("mes")),
    )
    valid.write.mode("overwrite").json(args.output)
    n_valid = valid.count()
    n_invalid = invalid.count()
    if args.skip_list_out and n_invalid:
        write_skip_list(invalid, "_filename", args.skip_list_out)
    print(json.dumps({"stage": "transform", "valid": n_valid, "skipped": n_invalid}))
    return 0


def cmd_load(args) -> int:
    """Silver → recency-deduped gold star schema (+ skip-list anti-filter)."""
    from owl_etl_spark.operators.latest import latest_per_key
    from owl_etl_spark.operators.quality import anti_filter
    from owl_etl_spark.operators.relational import to_star_schema
    from owl_etl_spark.schemas import FIC_TRANSFORMED_SCHEMA
    from owl_etl_spark.sources.readers import read_skip_list
    from owl_etl_spark.sources.writers import write_gold_snapshot

    spark = _spark(args)
    silver = spark.read.schema(_staged_schema(FIC_TRANSFORMED_SCHEMA)).json(args.input)
    if args.skip_list:
        skip = read_skip_list(spark, args.skip_list)
        silver = anti_filter(silver, skip, "_filename", "skip_name")
    latest = latest_per_key(
        silver, ["fic.nombre_fic", "fic.url"], "fic.fecha_corte", tiebreak=["_filename"]
    )
    tables = to_star_schema(latest)
    write_gold_snapshot(tables, args.output)
    print(json.dumps({"stage": "load", "documents": tables["fic"].count(),
                      "tables": sorted(tables)}))
    return 0


def cmd_pipeline(args) -> int:
    """Full E2E: extract → transform → load under one base dir."""
    base = args.output.rstrip("/")
    ns = argparse.Namespace(**vars(args))
    ns.cmd = "extract"
    ns.output = f"{base}/bronze"
    rc = cmd_extract(ns)
    ns2 = argparse.Namespace(**vars(args))
    ns2.cmd, ns2.input, ns2.output = "transform", f"{base}/bronze", f"{base}/silver"
    ns2.skip_list_out = f"{base}/skip_list"
    ns2.lookup = args.lookup
    ns2.reference_layout = False
    rc |= cmd_transform(ns2)
    ns3 = argparse.Namespace(**vars(args))
    ns3.cmd, ns3.input, ns3.output = "load", f"{base}/silver", f"{base}/gold"
    ns3.skip_list = None
    rc |= cmd_load(ns3)
    return rc


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="owl_etl_spark", description=__doc__)
    p.add_argument("--cpus", type=int, default=None, help="local[N] parallelism")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("extract")
    e.add_argument("--input", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--glob", default="*.pdf")

    t = sub.add_parser("transform")
    t.add_argument("--input", required=True)
    t.add_argument("--output", required=True)
    t.add_argument("--lookup", default=None, help="fics.json nested lookup file")
    t.add_argument("--skip-list-out", default=None)
    t.add_argument("--reference-layout", action="store_true",
                   help="input is a reference-style folder of one-doc-per-file JSONs")

    ld = sub.add_parser("load")
    ld.add_argument("--input", required=True)
    ld.add_argument("--output", required=True)
    ld.add_argument("--skip-list", default=None)

    full = sub.add_parser("pipeline")
    full.add_argument("--input", required=True)
    full.add_argument("--output", required=True)
    full.add_argument("--glob", default="*.pdf")
    full.add_argument("--lookup", default=None)

    args = p.parse_args(argv)
    return {
        "extract": cmd_extract,
        "transform": cmd_transform,
        "load": cmd_load,
        "pipeline": cmd_pipeline,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
