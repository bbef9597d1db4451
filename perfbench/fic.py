"""FIC monthly load: fact-sheet PDFs of a month to the store, then the gold star schema.

Each month folder runs the paper's pipeline through the program's public
functions: binary scan, PDF text extraction, structuring, filename
metadata, the FIC transform, the folder/date consistency split, the
store drop for valid rows and the skip list for the rest. After the last
month, a gold refresh reads the store, keeps the latest sheet per fund
and writes the star-schema snapshot. Outputs are checked against the
generator's ground truth, document by document.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pyarrow.parquet as pq

from perfbench import ficgen

MONTHS = 1
DOCS_PER_MONTH = 100
STORE = "fic_silver"


def prepare(work: str, seed: int) -> dict:
    t0 = time.perf_counter()
    corpus = ficgen.generate(os.path.join(work, "fic_in"), seed, MONTHS, DOCS_PER_MONTH)
    return {"corpus": corpus, "gen_s": time.perf_counter() - t0, "oracle_s": 0.0}


def import_program():
    from owl_etl_spark.plans import fic_pipeline  # noqa: F401
    from owl_etl_spark.sources import extract  # noqa: F401


def footer_touch(spark, inputs: dict) -> None:
    """Nothing to touch: the load's inputs are the PDFs it scans."""


def _quarantined(corpus: ficgen.Corpus) -> set[str]:
    """Documents the program's PDF extractor rejects, found by calling it directly."""
    from owl_etl_spark.sources.extract import pdf_text_extractor

    out = set()
    for d in corpus.docs:
        with open(os.path.join(corpus.root, d.month, d.filename), "rb") as fh:
            try:
                pdf_text_extractor(fh.read())
            except ValueError:
                out.add(f"{d.month}/{d.filename}")
    return out


class FicLoad:
    """Runs whole monthly loads; records per-operation times and checks outputs."""

    def __init__(self, qs, inputs: dict):
        self.corpus: ficgen.Corpus = inputs["corpus"]
        self.items_per_pass = len(self.corpus.docs)
        self.out_root = os.path.join(os.path.dirname(self.corpus.root), "fic_out")
        self.quarantined = _quarantined(self.corpus)
        self.drop_stats: dict[str, dict] = {}

    def one_pass(self, spark, tracer, probe=None) -> dict:
        """One load of every month plus the gold refresh.

        Returns {"wall_s", "ops": {operation: s}, "failed": [...]}; the
        operations are each month's drop and the gold refresh.
        """
        from pyspark.sql import functions as F

        from owl_etl_spark.operators.latest import latest_per_key
        from owl_etl_spark.operators.quality import date_folder_consistency, split_by_predicate
        from owl_etl_spark.operators.relational import to_star_schema
        from owl_etl_spark.operators.stores import StoreCatalog
        from owl_etl_spark.plans.fic_pipeline import transform_fic_documents
        from owl_etl_spark.sources.extract import (
            extract_text,
            pdf_text_extractor,
            read_binary_documents,
            structure_json,
        )
        from owl_etl_spark.sources.readers import derive_metadata_from_filename
        from owl_etl_spark.sources.writers import write_gold_snapshot, write_skip_list

        from perfbench.structurer import fact_sheet_structurer

        shutil.rmtree(self.out_root, ignore_errors=True)
        cat = StoreCatalog(os.path.join(self.out_root, "catalog"))
        lookup = spark.createDataFrame(self.corpus.lookup, "banco string, fic string, url string")
        ops, probe_s = {}, 0.0
        t_pass = time.perf_counter()
        for month in self.corpus.months:
            anio, mes = month.split("_")
            t0 = time.perf_counter()
            with tracer.span("fic.month", op=month):
                with tracer.span("sources.extract"):
                    raw = read_binary_documents(spark, os.path.join(self.corpus.root, month))
                    texts = extract_text(raw, extractor=pdf_text_extractor)
                    docs = structure_json(texts, structurer=fact_sheet_structurer)
                with tracer.span("sources.metadata"):
                    # banco/fondo come from the file name, the month from its folder
                    docs = (derive_metadata_from_filename(docs, "filename")
                            .withColumn("anio", F.lit(anio)).withColumn("mes", F.lit(mes)))
                with tracer.span("plans.transform_build"):
                    silver = transform_fic_documents(docs, url_lookup=lookup)
                with tracer.span("operators.quality"):
                    valid, invalid = split_by_predicate(
                        silver,
                        date_folder_consistency(F.col("fic.fecha_corte"), F.col("anio"), F.col("mes")),
                    )
                with tracer.span("stores.write_drop"):
                    cat.write_drop(valid, STORE, ["banco", "fondo"], month)
                with tracer.span("sources.skip_list"):
                    write_skip_list(invalid, "_filename", os.path.join(self.out_root, "skip", month))
            ops[f"drop {month}"] = time.perf_counter() - t0
            if probe is not None:
                t1 = time.perf_counter()
                probe(valid, month)
                probe_s += time.perf_counter() - t1
        t0 = time.perf_counter()
        with tracer.span("fic.gold", op="gold"):
            with tracer.span("stores.read"):
                stored = cat.read(spark, STORE)
            with tracer.span("operators.latest"):
                latest = latest_per_key(stored, ["fic.nombre_fic", "fic.url"], "fic.fecha_corte",
                                        ["_filename"])
            with tracer.span("operators.star"):
                tables = to_star_schema(latest)
            with tracer.span("sources.gold_write"):
                write_gold_snapshot(tables, os.path.join(self.out_root, "gold"))
        ops["gold refresh"] = time.perf_counter() - t0
        wall = time.perf_counter() - t_pass - probe_s
        failed = self._check(cat)
        return {"wall_s": wall, "ops": ops, "failed": failed}

    # -- output checks -------------------------------------------------------
    def _check(self, cat) -> list[str]:
        """Every document whose output is missing or wrong, with the reason.

        A document fails when extraction quarantines it, when a valid
        sheet is missing from its month's drop or lands with the wrong
        name or date, when a mismatched sheet is missing from the skip
        list or lands in the store, or when the gold ``fic`` row of its
        fund does not carry the date of the fund's latest valid sheet.
        """
        failed: dict[str, str] = {k: "quarantined by extraction" for k in self.quarantined}
        gold_expect: dict[tuple, tuple] = {}
        self.drop_stats = {}
        for month in self.corpus.months:
            docs = self.corpus.month_docs(month)
            drop_dir = os.path.join(cat.store_path(STORE), "data", f"drop={month}")
            # a sheet whose text extraction failed lands with a null document
            rows = {
                r["_filename"]: ((r["fic"] or {}).get("nombre_fic"), (r["fic"] or {}).get("fecha_corte"))
                for r in pq.read_table(drop_dir, columns=["_filename", "fic"]).to_pylist()
            }
            skipped = set()
            for part in glob.glob(os.path.join(self.out_root, "skip", month, "part-*")):
                with open(part, encoding="utf-8") as fh:
                    skipped.update(line.strip() for line in fh if line.strip())
            known = set()
            for d in docs:
                key = f"{month}/{d.filename}"
                known.add(d.filename)
                if d.consistent:
                    if rows.get(d.filename) != (d.nombre_fic, d.fecha_corte_iso):
                        failed.setdefault(key, f"drop row {rows.get(d.filename)}")
                    if key not in self.quarantined:
                        url = f"https://fics.example/{d.banco}/{d.fondo}"
                        best = gold_expect.get((d.nombre_fic, url))
                        if best is None or (d.fecha_corte_iso, d.filename) > best[:2]:
                            gold_expect[(d.nombre_fic, url)] = (d.fecha_corte_iso, d.filename, key)
                else:
                    if d.filename not in skipped or d.filename in rows:
                        failed.setdefault(key, "mismatch not on the skip list")
            for name in set(rows) - known:
                failed.setdefault(f"{month}/{name}", "unknown row in the drop")
            for name in skipped - known:
                failed.setdefault(f"{month}/{name}", "unknown skip-list entry")
            files = glob.glob(os.path.join(drop_dir, "*.parquet"))
            self.drop_stats[month] = {
                "docs": len(docs),
                "rows": len(rows),
                "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "skipped": len(skipped),
            }
        gold = {
            (r["nombre_fic"], r["url"]): r["fecha_corte"]
            for r in pq.read_table(os.path.join(self.out_root, "gold", "fic"),
                                   columns=["nombre_fic", "url", "fecha_corte"]).to_pylist()
        }
        for k, (iso, _, key) in gold_expect.items():
            if gold.get(k) != iso:
                failed.setdefault(key, f"gold row {gold.get(k)} for {k}")
        # quarantined sheets reach gold as one row with a null name
        extra = [k for k in gold if k not in gold_expect
                 and (k[0] is not None or not self.quarantined)]
        if extra:
            failed.setdefault("gold", f"{len(extra)} unexpected gold rows, e.g. {extra[0]}")
        return [f"{k}: {v}" for k, v in sorted(failed.items())]

    def wrong_outputs(self, failed: list[str]) -> list[str]:
        """Failures that extraction quarantine does not account for."""
        return [f for f in failed if f.split(": ", 1)[0] not in self.quarantined]
