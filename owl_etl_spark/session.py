"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster — AQE owns runtime re-planning
(partition coalescing, skew-join splitting), and shuffle partitions
are sized from the environment rather than hardcoded.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "owl-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Notable settings:
    - ``spark.sql.adaptive.*``: AQE re-plans at runtime — coalesces
      small shuffle partitions and splits skewed ones, which is the
      first line of defense against key skew at 100 TB.
    - ``spark.sql.session.timeZone=UTC``: deterministic timestamp
      semantics (and parity with the DuckDB oracle, which is
      UTC-naive).
    - ``spark.sql.legacy.parquet.nanosAsLong=true``: the synthetic
      ``events`` table stores TIMESTAMP(NANOS) which Spark's vectorized
      parquet reader otherwise rejects; we read nanos as long and
      convert explicitly (see ``sources.readers.read_events``).
    - Arrow enabled: every Pandas UDF / mapInPandas boundary is
      Arrow-batched.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def literal_frame(spark, rows, schema):
    """A tiny driver-built DataFrame as a pure-JVM literal plan.

    ``spark.createDataFrame(small_list)`` distributes the list over
    ``defaultParallelism`` pickle partitions and EVERY task pays a
    Python-worker round trip to deserialize its (mostly empty) slice —
    profiled at 32 tasks / ~1.9 s wall for a 4-row model frame (r13,
    guide §4: the boundary exists even for driver-local data). This
    builds the same frame as ``inline(array(struct(lit(...))))`` over
    ``spark.range(1)``: literal expressions constructed directly (no
    SQL-text escaping), zero Python boundary, constant-folded JVM
    evaluation.

    ``rows``: list of tuples of primitives (None allowed). ``schema``:
    a DDL string ("a string, b long"), a StructType, or a list of
    column names (types then inferred per column from the first
    non-None value: bool→boolean, int→bigint, float→double,
    str→string). Intended for MODEL-SIZED frames (sketch summaries,
    fitted coefficients, seed lists) — not a data path.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if isinstance(schema, StructType):
        fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    elif isinstance(schema, str):
        fields = [
            (f.name, f.dataType.simpleString())
            for f in StructType.fromDDL(schema).fields
        ]
    else:  # list of names: infer each column like createDataFrame would
        def _infer(i: int) -> str:
            for r in rows:
                v = r[i]
                if v is None:
                    continue
                if isinstance(v, bool):
                    return "boolean"
                if isinstance(v, int):
                    return "bigint"
                if isinstance(v, float):
                    return "double"
                return "string"
            return "string"

        fields = [(n, _infer(i)) for i, n in enumerate(schema)]

    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(t).alias(n) for n, t in fields]
        )
    if len(rows) <= 256:
        # inline literal plan: zero Python boundary, constant-folded.
        # Bounded because each row costs py4j Column calls and
        # expression-tree nodes — a 4k-row inline array measured
        # SECONDS of driver time and a codegen-hostile tree (the q98
        # regression bench.py's own gate caught in r13).
        structs = [
            F.struct(
                *[F.lit(v).cast(t).alias(n) for v, (n, t) in zip(row, fields)]
            )
            for row in rows
        ]
        return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))
    # larger (but still model-sized) frames: the Arrow createDataFrame
    # path — ONE vectorized driver-side conversion, shipped as Arrow
    # batches that the JVM deserializes itself (no Python workers at
    # execution, unlike the pickle path this module exists to avoid)
    import pandas as pd
    from pyspark.sql.types import StructType as _St

    ddl = ", ".join(f"{n} {t}" for n, t in fields)
    pdf = pd.DataFrame.from_records(list(rows), columns=[n for n, _ in fields])
    return spark.createDataFrame(pdf, schema=_St.fromDDL(ddl))


def seal(df, eager=True):
    """Stage ``df`` in executor storage and return a frame that reads
    it — the one spelling of a local checkpoint.

    Operators seal a frame that several actions read (so its lineage
    runs once) or that an iterative loop carries (so each round's plan
    starts from a leaf, not from every earlier round). An eager seal is
    one Spark job, run here; a lazy one (``eager=False``) stores its
    blocks during the first action that reads it. A seal has no
    lineage: if an executor holding its blocks is lost, the next read
    fails instead of recomputing. Free the blocks with ``release``."""
    return df.localCheckpoint(eager)


def release(df):
    """Free the blocks of a frame ``seal`` returned. Any frame still
    built on it fails its next action afterwards, so release only once
    nothing live reads the seal. ``DataFrame.unpersist()`` frees
    nothing here: the blocks belong to the checkpointed RDD under the
    frame's ``LogicalRDD`` leaf, which this unpersists (blocking)."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise TypeError(f"release: expected a sealed frame, got a {plan.nodeName()} plan")
    # through the context, not ``RDD.unpersist``: that one logs a WARN
    # per call that a locally checkpointed RDD cannot be recomputed
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(plan.rdd().id(), True)


@contextmanager
def sealed(df):
    """``seal(df)`` for the body of a ``with`` block, released when the
    block exits, also on an exception."""
    out = seal(df)
    try:
        yield out
    finally:
        release(out)


@contextmanager
def core_shuffle_partitions(spark):
    """Set ``spark.sql.shuffle.partitions`` to the session's core count
    (``defaultParallelism``, total cores on a cluster) for the body of a
    ``with`` block, and restore the previous value when it exits, also
    on an exception.

    For the two plans AQE cannot coalesce: a streaming checkpoint, whose
    state-store partition count is fixed at creation from this setting
    (an un-tuned 200-partition session pays 200 store commits per
    micro-batch, four per partition for a stream-stream join), and
    eager seals, which freeze the pre-AQE partitioning (hundreds of
    near-empty tasks per loop round). Callers use it only where results
    do not depend on the partition count."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def iterate(state, step, rounds, every=1, stop=None):
    """Run ``state = step(state, i)`` for ``i`` in ``range(rounds)``,
    sealing on a cadence — the one loop of every iterative operator.

    A round's frame plans every earlier round unless something cuts
    the lineage, so N unsealed rounds cost O(N²) analysis and
    execution. ``every=1`` seals each round, the last included (the
    result is a seal); ``every=k`` seals rounds k, 2k, … but not the
    last, whose frame the caller's one consumer reads lazily. HITS,
    power iteration and Bradley-Terry fuse a whole round into one job
    (their scalar max/pivot is an in-plan broadcast, not a collect), so
    the cost a seal cuts is the driver's re-analysis of the growing
    plan at every DataFrame build, and every second round bounds it:
    power iteration's seal cadence 1/2/3/none measured 5.1/3.0/3.4/5.0
    s; with a lazy seal q183 spent 3.4 s of a 4.2 s wall and q255
    5.3 s against 0.2 s of execution in plan build.

    Each seal this call made is released once the next one is
    materialized; the last one is the caller's, with the result. The
    initial ``state`` is never released — whatever the caller sealed
    for it stays the caller's to release (and is the result when no
    round runs). ``stop``, when given, is read on each fresh seal and
    ends the loop when it returns true. If ``step`` or ``stop`` raises,
    the seal held is released before the error propagates."""
    rounds = int(rounds)
    held = None
    try:
        for i in range(rounds):
            state = step(state, i)
            if (i + 1) % every or (every > 1 and i + 1 == rounds):
                continue
            state = seal(state)
            if held is not None:
                release(held)
            held = state
            if stop is not None and stop(state):
                break
    except BaseException:
        if held is not None:
            release(held)
        raise
    return state


#: Row cap of a driver replay (see ``bounded_collect``).
DRIVER_REPLAY_MAX_ROWS = 4_000_000


def bounded_collect(df):
    """Collect ``df`` if it has at most ``DRIVER_REPLAY_MAX_ROWS``
    rows, else return None — the one guard of every driver replay.

    Several operators iterate a fixed number of rounds over a frame
    that is model-sized rather than corpus-sized (a quantized matrix,
    a pair record, a dup-graph edge list, a collapsed design matrix).
    Their recurrences are exact: integer sums, floor divisions that
    Python's ``//`` computes directly, IEEE doubles of exact integers,
    Spark's ROUND emulated term by term. So when the frame is small,
    collecting it once and replaying the rounds in driver Python gives
    bit-identical answers for the price of one Spark job, where the
    distributed loop pays several jobs of join/aggregate/broadcast
    micro-stages per round. A ``None`` sends the caller to its
    distributed loop (or, for a fit without one, to an error).

    The cap: a row of three BIGINTs is ~370 B of Python objects once
    collected, so 4M rows is ~1.5 GB of driver heap and ~130 MB of
    serialized result, under ``spark.driver.maxResultSize``'s 1 GiB
    default; replay loops are O(rows × rounds) Python steps, tens of
    seconds at the cap. At sf0.1 the largest frame a registered query
    hands a replay is 52,694 rows (q305's Cox collapse) and the largest
    dup graph 2,486 directed edges, so no tested scale sits near it.
    The constant is read at call time (tests monkeypatch it to force
    either path).

    Precondition: ``df`` must be SEALED (``seal``, or cached)
    or an aggregate whose final stage is model-sized. ``coalesce(1)``
    folds everything back to the last shuffle into one task — that is
    what makes this one Spark job (a bare ``limit`` scans 1, 4, 16 …
    partitions, one job per step) — but on an unsealed narrow chain
    over a big scan it would run that whole scan in a single task."""
    cap = DRIVER_REPLAY_MAX_ROWS
    rows = df.coalesce(1).limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


#: spread_for_cpu width sizing: bytes of (compressed, plan-estimated)
#: input per task. Calibrated to the measured CPU density of the text
#: chains this helper exists for (~3.4 ms CPU per compressed KB for
#: normalize/shingle/md5 at bench scale): 16 KB ≈ 50 ms of CPU per
#: task, an order of magnitude above task overhead, while a sub-100 KB
#: stage stops paying a full environment width of near-empty tasks.
SPREAD_BYTES_PER_TASK = 16 * 1024


def spread_for_cpu(df, by=None):
    """Repartition a CPU-dense narrow stage's input so per-row work
    (normalize/tokenize/hash chains) runs wide, with an EXPLICIT
    partition count AQE cannot coalesce away (guide §2.4: adaptive
    coalescing targets shuffle BYTES, so a small-bytes/heavy-CPU map
    stage gets folded onto one task exactly when parallelism matters
    most — measured on q85: a 2s single-task text stage vs 32-way).

    Scale-adaptive, not local-tuned (r13, VERDICT r12 #5): the width
    is sized from the optimizer's size estimate —
    ``clamp(ceil(bytes / SPREAD_BYTES_PER_TASK), 1, shuffle.partitions)`` —
    so a sub-MB stage no longer pays a full environment width of
    near-empty tasks, and on a petabyte table whose scan already
    splits wider than the target this is a NO-OP (no exchange). The
    size probe reads ``optimizedPlan().stats()``, which the session
    computes lazily and REUSES for the real execution — unlike the
    previous ``df.rdd.getNumPartitions()`` probe, which built (and
    threw away) a full physical plan per call site: measured 0.8 s of
    driver time per call on q324's signature chains.

    Pass ``by`` (a column) to keep a downstream groupBy on that column
    exchange-free."""
    spark = df.sparkSession
    try:
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        target = spark.sparkContext.defaultParallelism
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    # the planner's own split math: when the scan naturally splits at
    # least target-wide, adding an exchange could only cost
    max_split = int(
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    if size >= target * max_split:
        return df
    width = min(target, max(1, -(-size // SPREAD_BYTES_PER_TASK)))
    if width <= 1:
        return df
    return df.repartition(width, by) if by is not None else df.repartition(width)
