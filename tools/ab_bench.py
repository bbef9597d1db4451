"""Interleaved A/B headline bench (the r9-drift protocol, VERDICT r9
Next-round #2): run the common headline queries of ONE repo tree once
and print one JSON line. Drive it alternately against HEAD and a prior
round's `git archive` tree (H,R,H,R,H,R) so host-noise windows hit both
arms; judge regressions on the min-vs-min ratio, never on a single
sample (ANALYSIS.md rule: <1.15x moves are noise unless reproduced in
both recorded runs AND a paired A/B).

The program comes from ``<tree>``; the session, warm-up and timing come
from this checkout's ``tools/_harness.py``, so both arms are timed alike.

Usage:
    python tools/ab_bench.py <tree> [> run.jsonl]
    SPARK_GRAFT_SF_DIR=.../sf0.01 python tools/ab_bench.py <tree>
"""
import importlib.util
import json
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "_harness", os.path.join(os.path.dirname(os.path.abspath(__file__)), "_harness.py")
)
_harness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_harness)

TREE = os.path.abspath(sys.argv[1])
sys.path.insert(0, TREE)
os.chdir(TREE)

#: the cross-round common headline set (stable since r7; keep appending
#: rounds' additions only when BOTH compared trees register them)
COMMON = [
    "q01", "q03", "q05", "q07", "q11", "q16", "q18", "q21", "q23", "q27",
    "q29", "q30", "q34", "q45", "q47", "q85", "q90", "q92", "q95", "q98",
    "q100", "q105", "q113", "q115", "q117", "q118", "q122", "q134", "q135",
    "q145", "q150", "q160", "q163", "q169", "q173", "q177", "q183", "q184",
    "q219", "q230", "q254", "q267", "q255", "q276", "q253",
]

sf_dir = _harness.sf_dir()
spark = _harness.start_session("ab-bench")

import __spark_entry__ as entrymod  # noqa: E402

_harness.warm_up(spark, sf_dir)
res = _harness.min_of_n(spark, sf_dir, _harness.lookup(entrymod.queries(), COMMON), 1)
timings = {k.split("_")[0]: v["min_s"] for k, v in res.items()}

print(json.dumps({"tree": TREE, "total": round(sum(timings.values()), 2), "queries": timings}))
spark.stop()
