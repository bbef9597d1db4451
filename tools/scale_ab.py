"""Interleaved A/B for the 10x SCALE TIER (VERDICT r11 Next-round #3):
the headline paired protocol (tools/ab_bench.py) adjudicates sf0.1
moves, but tier walls had only single samples — r11's q310 23.9->32.9s
(1.38x) was unfalsifiable. This runs ONE arm sample: build the
deterministic 10x tier with the TREE'S OWN bench._build_scale_tier,
run the five heaviest tier families, print one JSON line. Drive it
alternately against HEAD and a prior round's `git archive` tree
(H,R,H,R,H,R), then judge on min-vs-min per query — same noise rule as
the headline protocol (<1.15x is noise unless reproduced).

The program comes from ``<tree>``; the session, warm-up and timing come
from this checkout's ``tools/_harness.py``.

Usage:
    python tools/scale_ab.py <tree> [>> runs.jsonl]
    SPARK_GRAFT_SF_DIR=.../sf0.01 python tools/scale_ab.py <tree>
"""
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time

_spec = importlib.util.spec_from_file_location(
    "_harness", os.path.join(os.path.dirname(os.path.abspath(__file__)), "_harness.py")
)
_harness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_harness)

TREE = os.path.abspath(sys.argv[1])
sys.path.insert(0, TREE)
os.chdir(TREE)

#: the heaviest tier families (r11 sidecar walls: q358 51.9s, q310
#: 32.9s, q345 27.0s, q29 19.5s, q296 8.6s) — the set where a real
#: tier regression would land
HEAVY = [
    "q29_ngram_jaccard_pairs",
    "q296_incremental_lsh_dedup",
    "q310_copurchase_betweenness",
    "q345_doc_repetition_profile",
    "q358_store_catalog_endurance",
]

sf_dir = _harness.sf_dir()
spark = _harness.start_session("scale-ab")

import bench as benchmod  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

work = tempfile.mkdtemp(prefix="scale_ab_")
try:
    _harness.warm_up(spark, sf_dir)
    t0 = time.perf_counter()
    benchmod._build_scale_tier(spark, sf_dir, 10, work)
    gen_s = round(time.perf_counter() - t0, 3)

    res = _harness.min_of_n(spark, work, _harness.lookup(entrymod.queries(), HEAVY), 1)
    timings = {k.split("_")[0]: v["min_s"] for k, v in res.items()}
    print(
        json.dumps(
            {
                "tree": TREE,
                "tier": "10x",
                "gen_s": gen_s,
                "total": round(sum(timings.values()), 2),
                "queries": timings,
            }
        )
    )
finally:
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
