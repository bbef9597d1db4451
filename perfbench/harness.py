"""Session set-up, warm-up and process bookkeeping shared by the workloads.

Everything the benchmark writes, Spark's scratch space and the event log
included, goes under one work directory inside the checkout, which the
run removes when it ends.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import time

DRIVER_MEM = "2g"
#: The driver heap is committed whole at start (-Xms equal to the
#: maximum) and its young generation has a fixed size, so that the JVM's
#: resident set follows what the program keeps alive rather than when
#: G1's sizing heuristics decide to grow the heap: without them the peak
#: RSS of identical headline runs spread over 1.3-1.8 GB.
JVM_HEAP_OPTS = f"-Xms{DRIVER_MEM} -Xmn256m"


def configure_env(root: str, work: str, cores: int) -> None:
    """Point every scratch location of Python, the JVM and Spark at ``work``,
    and size the local master (``local[cores]``)."""
    for sub in ("tmp", "spark-local", "stores"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["OWL_ETL_STORE_ROOT"] = os.path.join(work, "stores")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(min(cores, os.cpu_count() or cores))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: str, event_log: bool = False):
    """The program's own session factory, with scratch paths inside ``work``."""
    from owl_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_HEAP_OPTS}",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """First JVM action, plus one spawn of the session's Python worker pool.

    Both are paid once per session by any user of it; without them the
    first timed operation would carry them.
    """
    spark.range(1000, numPartitions=2).selectExpr("sum(id)").collect()
    par = spark.sparkContext.defaultParallelism
    (spark.range(par * 8, numPartitions=par)
     .mapInPandas(lambda it: it, schema="id bigint").count())


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm: bool = True) -> float:
    """Peak resident set of this process plus (``jvm``) the JVM it drives, in MB."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid() if jvm else None
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM the gateway launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None


def calibrate(loops: int = 3) -> float:
    """Seconds for a fixed pure-Python loop, best of ``loops``.

    A diagnostic of host speed, reported beside the metrics so that host
    drift between runs can be told apart from a change to the program.
    """
    best = float("inf")
    for _ in range(loops):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_500_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def event_log_file(work: str) -> str | None:
    files = [f for f in glob.glob(os.path.join(work, "eventlog", "*")) if os.path.isfile(f)]
    return max(files, key=os.path.getmtime) if files else None
