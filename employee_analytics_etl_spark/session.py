"""SparkSession factory.

Centralizes the configuration every entry point (tests, bench, driver
contract, pipeline CLI) should share. Defaults are sized for the local
test harness (``local[N]``) but every knob is chosen to also be the
right *shape* at cluster scale:

- AQE on (runtime partition coalescing + skew-join splitting) — at
  100 TB this is what keeps shuffle partitions right-sized without
  hand-tuning per query.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this would be ~2-3x total executor cores (AQE
  coalesces down, it can't split a too-small number... except via
  skew handling). ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides it for
  a whole run, and ``extra_conf`` for one session.
- Session timezone pinned to UTC: parquet timestamps must mean the
  same instant to Spark and to the DuckDB correctness oracle.
- Arrow enabled: every Pandas-UDF extension operator (similarity,
  multimodal) rides the Arrow batch path.
- Generated-class cache sized so that a repeated plan (a pipeline run,
  a query pass) is compiled once, not on every run.
- Python workers fork from ``daemon``, PySpark's daemon with a hook that
  keeps each task from re-reading ``pyspark.zip``, the py4j zip and the
  Spark jar (~0.2 s per Arrow-UDF task before). Executors in separate
  JVMs import it through ``spark.executorEnv.PYTHONPATH``.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from . import daemon

T = TypeVar("T")

# Default local parallelism: the actual host core count (capped at 32 —
# beyond that a single local JVM is scheduler-bound), env-overridable.
# A hardcoded constant would oversubscribe smaller machines.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", str(min(32, os.cpu_count() or 4)))
)


def build_session(
    app_name: str = "employee_analytics_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine's SparkSession.

    Parameters are overridable for tests; environment variables
    ``SPARK_GRAFT_CPUS`` control local parallelism. ``extra_conf`` sets
    any other Spark conf, e.g. RocksDB as
    ``spark.sql.streaming.stateStore.providerClass`` for stream state
    larger than the heap.
    """
    cpus = DEFAULT_CPUS
    # SPARK_GRAFT_MASTER lets bench.py swap the execution topology
    # without code changes — in particular local-cluster[N,C,M] (N
    # separate executor JVMs × C cores × M MB each), which exercises
    # real serialization, broadcast transport, and per-executor heaps
    # that local[*]'s single shared JVM cannot (r8 verdict: every
    # number ever measured shared one heap). The configuration-
    # invariance test passes master= instead, to check that both
    # topologies give identical results.
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    # Shuffle partitions default to the thread count — right for the
    # sub-GB single-file fixtures — but must SCALE WITH DATA: at the
    # factor-100 facts layout (60M-row shuffles) 32 partitions put
    # ~2M rows in one in-flight partition per thread and the shared
    # local JVM heap OOMs. SPARK_GRAFT_SHUFFLE_PARTITIONS is the
    # experiment's knob for the cluster discipline (partition count
    # grows with input, AQE coalesce collapses the excess for free on
    # small stages — over-provisioning is safe, under-provisioning is
    # not).
    shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r12 (optimization round, guide §5): ContextCleaner reclaims
        # shuffle files, broadcasts and localCheckpoint blocks only when
        # the DRIVER JVM garbage-collects the corresponding references —
        # and an 8g driver heap running thousands of small queries may
        # not full-GC for the whole session (the default periodicGC
        # interval is 30min). Measured on the 74-query bench session:
        # stage/shuffle/checkpoint state accumulates monotonically and
        # late-session queries degrade ~+0.2 s per full pass
        # (doc_gopher_quality_flags 0.62 s isolated vs 3.96 s at
        # bench-session position ~63; probe artifact in
        # OPTIMIZATION_r12.md). A 1-minute periodic driver GC bounds the
        # leak at one pass of state for ~100 ms/min of driver pause; the
        # same leak-vs-pause tradeoff holds on a real cluster, where the
        # un-reclaimed state additionally pins executor memory/disk.
        # CAVEAT (r13, ADVICE): periodicGC works via System.gc(), which
        # -XX:+DisableExplicitGC (common on tuned clusters) turns into
        # a silent no-op — on such a deployment this mitigation is
        # inert and the leak returns; either drop that JVM flag for the
        # driver or use -XX:+ExplicitGCInvokesConcurrent instead.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # Generated classes (whole-stage and expression codegen) are
        # cached by source text in an LRU that holds 100 by default. One
        # run_pipeline run needs ~170 distinct classes and a pass over
        # seven registry queries ~290, so at 100 a cyclic repeat misses
        # every time: each run recompiled ~165 classes with Janino and
        # the JIT then compiled the fresh classes again. With the
        # pipeline's concurrent actions that churn competed with the
        # tasks for CPU, and its cost changed from run to run. At 1000 a
        # repeated run compiles nothing. Measured on a 4-CPU VM: driver
        # JVM CPU per warm pipeline run ~15 s -> ~11 s, live heap +2 MB.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Every Python task calls importlib.invalidate_caches(), which
        # re-reads each zip on sys.path; the daemon skips unchanged ones.
        .config("spark.python.daemon.module", daemon.__name__)
        # driver testdata ships TIMESTAMP(NANOS) parquet columns (events.ts);
        # Spark has no nanos type — read as epoch-nanos long, normalized in
        # sources.readers.read_parquet_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # static conf — the catalog creates its warehouse directory on
        # first use (views, SQL); keep it out of the working directory
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), f"spark-warehouse-{os.getpid()}"),
        )
    )
    # Executors in separate JVMs (local-cluster[...], standalone) spawn
    # Python workers that do NOT inherit the driver's sys.path, so
    # Arrow UDFs importing this package fail with ModuleNotFoundError.
    # Point them at the repo root — the same-machine analogue of
    # shipping the wheel that a real cluster submit does via
    # --py-files. Harmless (and occasionally load-bearing for the same
    # reason) under plain local[N] too, so set unconditionally.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        repo_root + (os.pathsep + existing if existing else ""),
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(spark: SparkSession, thunks: Sequence[Callable[[], T]]) -> list[T]:
    """Run each thunk on its own driver thread; return the results in order.

    Spark plans every action on its own and its scheduler takes jobs from
    several driver threads at once, so independent actions overlap in
    both planning and execution. Each thunk inherits the caller's local
    properties (job group, description) and job tags. Every thunk runs to
    its end before this returns; if any raised, the first one's exception
    (in thunk order) is re-raised.
    """
    if not thunks:
        return []
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        # one inheritable_thread_target call per thunk: each clones the
        # caller's properties, so a thread that sets its own job group
        # does not change another's
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futures]
