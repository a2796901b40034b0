"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; the settings below are chosen to also be the
right defaults on a large cluster (AQE handles runtime re-planning, skew joins
and partition coalescing at any scale; Arrow keeps any pandas-interchange
vectorized).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")
R = TypeVar("R")

# the directory that holds this package, for the Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "sql_to_ibis_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # dynamic broadcast conversion — the scale-survival switches
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # STATIC broadcast threshold stays at Spark's 10m default on purpose:
        # the static estimate for parquet is file-size × column fraction,
        # which at 64m let the column-pruned FACT table (lineitem, 79 MB
        # file at sf1) "broadcast" — a 6M-row driver-built hash relation
        # probed by a single-task stream side (measured: q5 4.0 s → 2.0 s,
        # q18 −67%, q17 −71% at sf1 after the fix). True dims
        # (region/nation/supplier/customer/part) are well under 10m.
        .config("spark.sql.autoBroadcastJoinThreshold", "10m")
        # the RUNTIME threshold is generous: AQE sees actual shuffle bytes,
        # not estimates, so converting a ≤64 MB side to broadcast is safe
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # Prefer shuffled-hash over sort-merge when a side can build a
        # local hash map (Spark still falls back to SMJ otherwise, and AQE
        # skew-splitting keeps build sides bounded): skips sorting the big
        # shuffled side. Interleaved A/B at sf10 (BASELINE.md): q13
        # −27%, q5 −21%, dedup_exact −15%, q7 −13%, q21 −12%, q18/q3/
        # multiway within noise — no regressions across two sweeps.
        # To restore the sort-merge preference, set this conf on the
        # session, e.g. ab.py arm smj:spark.sql.join.preferSortMergeJoin=true
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Arrow for any pandas interchange (UDF paths, toPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep timestamps deterministic across engines/oracles
        .config("spark.sql.session.timeZone", "UTC")
        # Spark still DEFAULTS to the deprecated INT96 parquet timestamp
        # encoding, which carries NO min/max statistics — every sink the
        # engine writes (snapshots, z-ordered layouts, sized writes)
        # would produce timestamp columns that no reader can footer- or
        # row-group-prune. TIMESTAMP_MICROS is the modern INT64 form
        # with full statistics (and what the driver's own testdata
        # uses). Found via the r10 shipdate-clustering A/B: the
        # clustered snapshot showed 1.00 footer admission because the
        # INT96 shipdate had no stats to prune on.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Report the sortBy() ordering of bucketed scans: our bucketed
        # sink writes exactly ONE file per bucket (sinks.py repartitions
        # to num_buckets on the bucket key first), so the per-bucket sort
        # is a true whole-bucket ordering and downstream sorts on the key
        # (window partitions, merge joins) are ELIDED. Spark disables the
        # report by default only because multi-file buckets would need a
        # sorted-merge read; with one file the report is exact. Measured
        # sf10 q21 over a sorted-bucketed lineitem: 2.21 s (agg-join) →
        # 1.78 s (window, sort elided) vs DuckDB 1.51 s.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # parquet TIMESTAMP(NANOS) is otherwise unreadable; sources/readers.py
        # converts the long nanos back to TimestampType JVM-side
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # No DataFrame call-site capture. PySpark records, for every
        # functions/Column/DataFrame call, the Python line that made it:
        # four extra Py4J round trips, a stack walk and an IPython import
        # per call, about 70 % of the engine's Py4J calls while it builds
        # a plan (tpch_q6: 729 → 209). The line it records is one in the
        # compiler or an operator, which tells a SQL user nothing; the
        # engine's own errors name the SQL. A static conf: it must be set
        # before the session starts, and PySpark reads it once per process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers fork from this package's daemon (worker_daemon.py),
        # which stops zipimport re-reading pyspark.zip and the spark-core jar
        # before every task: about 105 ms per task on CPython 3.10-3.12,
        # more than most operators' UDFs take. PYTHONPATH lets the daemon be
        # imported whatever the driver's working directory; Spark adds its
        # own entries and the driver's PYTHONPATH to it. Both are read when
        # the first worker starts, so they belong in the builder.
        .config("spark.python.daemon.module", "sql_to_ibis_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.ui.showConsoleProgress", "false")
        # UI off by default (driver/bench runs); SPARK_GRAFT_UI=1 enables
        # it so instrumentation scripts can read per-stage spill/GC/peak-
        # memory metrics from the REST API (scripts/memory_profile.py)
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1"
                else "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()


def map_concurrently(spark: SparkSession, fn: Callable[[T], R],
                     items: Iterable[T]) -> list[R]:
    """``[fn(x) for x in items]`` with every call on its own thread: for
    independent per-table Spark work (set-up's schema reads and ANALYZE
    jobs), which one after another leaves most cores idle.

    Each call runs under ``pyspark.inheritable_thread_target(spark)``,
    wrapped separately so no two threads share one copy of the caller's
    local properties: the job group, job tags and scheduler pool the
    caller set apply to every job a call starts. ``spark`` is the active
    session in every thread, as it is in the caller's. Results come back
    in input order. Every call finishes before the first failure (in
    input order) is raised, so one failing item neither stops the others
    nor leaves jobs running behind the caller."""
    items = list(items)
    if not items:
        return []

    def call(x: T) -> R:
        # the JVM keeps the active session per thread, and Spark's conf
        # lookup reads it: a thread without one would plan with the
        # default confs, not this session's (parquet schema inference
        # would not see nanosAsLong, say)
        spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
        return fn(x)

    def inherit() -> Callable[[T], R]:
        wrap = inheritable_thread_target(spark)
        # without pinned threads PySpark hands the session back: there
        # are no thread-local properties to carry over then
        return wrap(call) if callable(wrap) else call

    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        futures = [pool.submit(inherit(), x) for x in items]
    return [f.result() for f in futures]
