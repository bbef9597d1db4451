"""Headline workload: registered queries over a generated sf0.01 star schema.

One client runs the query list in a closed loop; an operation is one
query, timed as its build, ``queries()[name](spark, sf_dir)``, followed
by its action, ``.count()``.
"""

from __future__ import annotations

import os
import time

from perfbench import stargen

SF = 0.01

#: A fixed subset of ``bench.HEADLINE``, chosen so that a run holds four
#: warm-up passes and four measured ones within its time budget on
#: ``local[2]`` (a settled pass takes 2.5-3 s, the cold first one about
#: 12 s): the relational core (q01, q03), window and session operators
#: (q07, q16), text dedup (q23), a driver-replayed iterative model fit
#: (q297) and an Arrow-UDF media decoder at the Python-worker boundary
#: (q360). q183 (HITS, 33 jobs) would take half of every pass on its
#: own; see NOTES.md.
QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q07_latest_order_per_customer",
    "q16_sessionize",
    "q23_exact_dedup",
    "q297_gbm_price_stumps",
    "q360_wav_audio_decode",
]


def prepare(work: str, seed: int) -> dict:
    """Generate the tables and the oracle row count of every query.

    The expected counts come from each query's DuckDB twin
    (``__spark_entry__.oracle_sql()``), computed here so that neither the
    timed region nor set-up pays for them.
    """
    import duckdb

    import __spark_entry__ as entry

    sf_dir = os.path.join(work, "sf")
    t0 = time.perf_counter()
    stargen.generate(sf_dir, seed, SF)
    gen_s = time.perf_counter() - t0
    oracle = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in stargen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        expected = {
            q: con.execute(f"SELECT count(*) FROM ({oracle[q]}) AS t").fetchone()[0]
            for q in QUERIES
        }
    finally:
        con.close()
    return {"sf_dir": sf_dir, "expected": expected, "gen_s": gen_s,
            "oracle_s": time.perf_counter() - t0 - gen_s}


def import_program():
    import __spark_entry__ as entry

    return entry.queries()


def footer_touch(spark, inputs: dict) -> None:
    """Read every table's schema once, so file listing is not billed to a query."""
    for t in stargen.TABLES:
        spark.read.parquet(f"{inputs['sf_dir']}/{t}.parquet").schema


class Headline:
    """Runs passes over ``QUERIES``; records per-query times and checks."""

    def __init__(self, qs: dict, inputs: dict):
        self.qs = qs
        self.sf_dir = inputs["sf_dir"]
        self.expected = inputs["expected"]
        self.items_per_pass = len(QUERIES)

    def one_pass(self, spark, tracer, probe=None) -> dict:
        """One pass over the list: {"wall_s", "ops": {query: s}, "failed": [...]}.

        ``probe(df, query)`` runs after each query, outside its timing,
        and its time is left out of the pass wall time.
        """
        ops, failed, probe_s = {}, [], 0.0
        t_pass = time.perf_counter()
        for q in QUERIES:
            t0 = time.perf_counter()
            try:
                with tracer.span("operators.build", op=q):
                    df = self.qs[q](spark, self.sf_dir)
                with tracer.span("spark.action", op=q):
                    n = df.count()
            except Exception as e:  # noqa: BLE001 — a failing query is counted, the run goes on
                failed.append(f"{q}: raised {type(e).__name__}: {str(e)[:200]}")
                continue
            ops[q] = time.perf_counter() - t0
            if n != self.expected[q]:
                failed.append(f"{q}: {n} rows, oracle {self.expected[q]}")
            if probe is not None:
                t1 = time.perf_counter()
                probe(df, q)
                probe_s += time.perf_counter() - t1
        return {"wall_s": time.perf_counter() - t_pass - probe_s, "ops": ops, "failed": failed}

    @staticmethod
    def wrong_outputs(failed: list[str]) -> list[str]:
        """Failures where a query returned a wrong row count (not an exception)."""
        return [f for f in failed if "rows, oracle" in f]
