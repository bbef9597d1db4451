"""Benchmark of the owl-spark engine: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_work/`` in the checkout, sets up the program's
Spark session three times, runs warm-up passes, then whole passes of
the workload in a closed loop with one client for about ``--seconds``
(the pass count is fixed by ``--seconds``), checks every output, and
prints as its last stdout line one JSON object: {"correct",
"attempted", "failed", "metrics"}. The line before it is a
``#``-prefixed JSON record of diagnostics (sample counts, host
calibration, failures). With ``--trace 1`` the same schedule runs
traced and the metrics are the per-layer ones; see perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("headline_sf001", "fic_monthly_load")
SETUPS = 3
#: Task threads of the local master, ``local[N]``. The headline's tables
#: are small, so its time is driver work and job scheduling: two task
#: threads leave the other cores to the driver, the JIT compiler and the
#: Python client instead of having them all contend. The FIC load
#: extracts its PDFs in parallel Python workers and uses four.
CORES = {"headline_sf001": 2, "fic_monthly_load": 4}
#: Passes run after set-up and before the measured ones. A headline
#: pass takes about 12 s cold (first JVM action, code generation, Python
#: worker spawn), 3.5 s second, and then keeps getting faster, more
#: slowly, while the JIT compiler works through the driver's hot code
#: (about 2.3 s from the seventh pass on). Medians over passes still on
#: that slope follow how fast the JIT compiler got its share of the
#: host. Warm-up passes are checked like the others, and their time is
#: part of ``setup_s``.
WARMUP_PASSES = {"headline_sf001": 4, "fic_monthly_load": 0}
#: Nominal seconds of one warm pass. A run measures
#: max(1, round(--seconds / nominal)) whole passes, so the work a run
#: does is set by --seconds and not by how fast the host happens to be.
NOMINAL_PASS_S = {"headline_sf001": 2.5, "fic_monthly_load": 60.0}


def _program_missing() -> str | None:
    for rel in ("owl_etl_spark/__init__.py", "owl_etl_spark/session.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class CatalystProbe:
    """Plans a frame the program returned and keeps its planning phases.

    ``queryExecution().executedPlan()`` runs the optimizer and the
    planner on that frame; the frame's ``tracker()`` then holds the
    analysis (done when the frame was built), optimization and planning
    phase times.
    """

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self):
        self.ms = {p: 0 for p in self.PHASES}
        self.n = 0

    def __call__(self, df, op) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for p in self.PHASES:
            if phases.contains(p):
                self.ms[p] += int(phases.apply(p).durationMs())
        self.n += 1


def _layer_metrics(wl, traced: dict, groups: dict, session_start_s: float) -> dict:
    """Per-layer metrics of one traced pass."""
    from perfbench import tracing
    from perfbench.eventlog import GroupStats

    spans, probe = traced["tracer"].spans, traced["probe"]
    layers = tracing.by_layer(spans)
    by_id = {s.id: s for s in spans}
    total, build_jobs = GroupStats(), 0
    for g, gs in groups.items():
        sp = by_id.get(g)
        if sp is None:
            continue
        total.add(gs)
        if sp.name.startswith("operators."):
            build_jobs += gs.jobs

    def span_total(prefix: str) -> float:
        return sum(d["total_s"] for n, d in layers.items() if n.startswith(prefix))

    mb = 1024.0 * 1024.0
    drops = list(getattr(wl, "drop_stats", {}).values())
    docs = sum(d["docs"] for d in drops)
    rows = sum(d["rows"] for d in drops)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    values = {
        "session.start_s": (session_start_s, "s"),
        "operators.build_s": (span_total("operators."), "s"),
        "operators.build_jobs": (build_jobs, "count"),
        "catalyst.analysis_s": (probe.ms["analysis"] / 1000.0, "s"),
        "catalyst.optimize_s": (probe.ms["optimization"] / 1000.0, "s"),
        "catalyst.planning_s": (probe.ms["planning"] / 1000.0, "s"),
        "spark.action_s": (span_total("spark.action"), "s"),
        "spark.jobs": (total.jobs, "count"),
        "spark.stages": (total.stages, "count"),
        "spark.tasks": (total.tasks, "count"),
        "spark.failed_tasks": (total.failed_tasks, "count"),
        "spark.executor_run_s": (total.executor_run_ms / 1000.0, "s"),
        "spark.executor_cpu_s": (total.executor_cpu_ns / 1e9, "s"),
        "spark.core_busy_frac": (total.executor_run_ms / 1000.0 / (traced["wall_s"] * cores), "ratio"),
        "spark.scan_mb": (total.input_bytes / mb, "MB"),
        "spark.shuffle_read_mb": (total.shuffle_read_bytes / mb, "MB"),
        "spark.shuffle_write_mb": (total.shuffle_write_bytes / mb, "MB"),
        "python.rows_received": (total.py_rows_received, "count"),
        "python.mb_sent": (total.py_bytes_sent / mb, "MB"),
        "python.mb_received": (total.py_bytes_received / mb, "MB"),
        "python.stage_run_s": (total.py_stage_run_ms / 1000.0, "s"),
        "plans.transform_build_s": (span_total("plans.transform_build"), "s"),
        "stores.write_drop_s": (span_total("stores.write_drop"), "s"),
        "stores.read_s": (span_total("stores.read"), "s"),
        "stores.files_per_drop": (sum(d["files"] for d in drops) / len(drops) if drops else 0, "count"),
        "stores.bytes_per_doc": (sum(d["bytes"] for d in drops) / rows if rows else 0, "B"),
        "stores.rows_landed_frac": (rows / docs if docs else 0, "ratio"),
        "sources.gold_write_s": (span_total("sources.gold_write"), "s"),
        "sources.skip_list_s": (span_total("sources.skip_list"), "s"),
        "extract.quarantined_docs": (len(getattr(wl, "quarantined", ())), "count"),
        "quality.skipped_docs": (sum(d["skipped"] for d in drops), "count"),
        "trace.pass_s": (traced["wall_s"], "s"),
    }
    return {k: _metric(v, u) for k, (v, u) in values.items()}


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import eventlog, harness, stats, tracing

    if args.workload == "headline_sf001":
        from perfbench import headline as mod

        make = mod.Headline
    else:
        from perfbench import fic as mod

        make = mod.FicLoad
    diag: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    diag["calibration_s"] = harness.calibrate()
    harness.configure_env(ROOT, work, CORES[args.workload])
    t0 = time.perf_counter()
    qs = mod.import_program()
    import_s = time.perf_counter() - t0
    t_prep = time.perf_counter()
    inputs = mod.prepare(work, args.seed)
    prep_s = time.perf_counter() - t_prep
    diag.update(gen_s=inputs["gen_s"], oracle_s=inputs["oracle_s"])

    # Set up SETUPS times and keep the last session; with --trace 1 that
    # one also writes the event log.
    setups, starts = [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = harness.start_session(work, event_log=bool(args.trace) and i == SETUPS - 1)
        starts.append(time.perf_counter() - t0)
        if not WARMUP_PASSES[args.workload]:
            # a workload with warm-up passes gets the JVM's first action
            # and the Python worker spawn from its first pass instead
            harness.warm_up(spark)
        mod.footer_touch(spark, inputs)
        setups.append(time.perf_counter() - t0)
    diag.update(import_s=import_s, setup_samples_s=setups, session_start_samples_s=starts)

    wl = make(qs, inputs)
    warmups = [wl.one_pass(spark, tracing.Tracer(enabled=False))
               for _ in range(WARMUP_PASSES[args.workload])]
    warmup_s = sum(p["wall_s"] for p in warmups)
    diag.update(warmup_walls_s=[p["wall_s"] for p in warmups],
                to_first_op_s=time.perf_counter() - T_START - prep_s)
    passes = []
    n_passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    t_meas = time.perf_counter()
    while len(passes) < n_passes:
        tracer = tracing.Tracer(spark.sparkContext if args.trace else None,
                                enabled=bool(args.trace), prefix=f"p{len(passes)}s")
        probe = CatalystProbe() if args.trace else None
        p = wl.one_pass(spark, tracer, probe=probe)
        p.update(tracer=tracer, probe=probe)
        passes.append(p)
    diag["measured_s"] = time.perf_counter() - t_meas
    rss = harness.peak_rss_mb()
    diag["peak_rss_python_mb"] = harness.peak_rss_mb(jvm=False)
    spark.stop()
    harness.shutdown_jvm()

    walls = [p["wall_s"] for p in passes]
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for op, s in p["ops"].items():
            per_op.setdefault(op, []).append(s)
    executions = [s for xs in per_op.values() for s in xs]
    failures = [f for p in warmups + passes for f in p["failed"]]
    q, v, n = stats.tail(executions)
    diag.update(
        passes=len(passes), pass_walls_s=walls, op_executions=len(executions),
        op_p50_s=statistics.median(executions),
        op_tail={"percentile": q, "value_s": v, "samples": n},
        per_op_median_s={k: statistics.median(xs) for k, xs in per_op.items()},
        items_per_s=wl.items_per_pass / statistics.median(walls),
        failures=failures[:20],
    )
    if args.workload == "fic_monthly_load":
        diag.update(quarantined=sorted(wl.quarantined), drop_stats=wl.drop_stats)
    correct = not wl.wrong_outputs(failures)

    if args.trace:
        log = harness.event_log_file(work)
        groups = eventlog.parse_file(log) if log else {}
        if log:
            diag["event_log_mb"] = os.path.getsize(log) / 1e6
            os.remove(log)
        # the pass with the median wall time stands for the run
        mid = sorted(passes, key=lambda p: p["wall_s"])[(len(passes) - 1) // 2]
        metrics = _layer_metrics(wl, mid, groups, statistics.median(starts))
        spans = mid["tracer"].dump()
        for sp in spans:
            sp["jobs"] = groups[sp["id"]].jobs if sp["id"] in groups else 0
        diag.update(layers={k: {kk: round(vv, 4) for kk, vv in d.items()}
                            for k, d in tracing.by_layer(mid["tracer"].spans).items()},
                    spans=spans, catalyst_probes=mid["probe"].n)
    else:
        metrics = {
            "setup_s": _metric(import_s + statistics.median(setups) + warmup_s, "s"),
            "pass_s": _metric(statistics.median(walls), "s"),
            "op_gmean_s": _metric(stats.gmean(statistics.median(xs) for xs in per_op.values()), "s"),
            "peak_rss_mb": _metric(rss, "MB"),
        }
    return {"correct": bool(correct), "attempted": wl.items_per_pass * (len(warmups) + len(passes)),
            "failed": len(failures), "metrics": metrics}, diag


def main(argv=None) -> int:
    args = _args(argv)
    missing = _program_missing()
    if missing:
        print(f"perfbench: program file {missing} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    try:
        result, diag = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print("# " + json.dumps(diag, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
