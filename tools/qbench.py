"""Per-query micro-bench: bench.py's session, warm-up and min-of-N timing
(``tools/_harness.py``) on any registered queries, so its numbers compare
directly with the headline record.

Prints one JSON line ``{qNNN: {"min_s", "rows", "jobs"}}``. ``jobs`` is the
number of Spark jobs the fastest run issued, read from the status tracker
under that run's job group. Optionally dumps ``.explain("formatted")`` per
query.

Usage:
    python tools/qbench.py q310 q183 q98            # 3 passes each
    QB_RUNS=5 python tools/qbench.py q310
    QB_PLAN_DIR=plans/r12 QB_PLAN_SUFFIX=_before python tools/qbench.py q310
    SPARK_GRAFT_SF_DIR=.../sf0.01 python tools/qbench.py q310
"""
import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import _harness  # noqa: E402

names = sys.argv[1:]
if not names:
    print("usage: qbench.py qNNN [qNNN...]", file=sys.stderr)
    sys.exit(2)
runs = int(os.environ.get("QB_RUNS", "3"))
plan_dir = os.environ.get("QB_PLAN_DIR", "")
plan_suffix = os.environ.get("QB_PLAN_SUFFIX", "")

sf_dir = _harness.sf_dir()
spark = _harness.start_session("qbench")

import __spark_entry__ as entrymod  # noqa: E402

fns = _harness.lookup(entrymod.queries(), names)
_harness.warm_up(spark, sf_dir)
out = _harness.min_of_n(spark, sf_dir, fns, runs)

if plan_dir:
    os.makedirs(plan_dir, exist_ok=True)
    for full, fn in fns.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            fn(spark, sf_dir).explain("formatted")
        with open(os.path.join(plan_dir, f"{full.split('_')[0]}{plan_suffix}.txt"), "w") as f:
            f.write(buf.getvalue())

print(json.dumps({k.split("_")[0]: v for k, v in out.items()}))
spark.stop()
