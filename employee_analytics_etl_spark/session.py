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
  skew handling), so we leave it overridable via env.
- Session timezone pinned to UTC: parquet timestamps must mean the
  same instant to Spark and to the DuckDB correctness oracle.
- Arrow enabled: every Pandas-UDF extension operator (similarity,
  multimodal) rides the Arrow batch path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Default local parallelism: the actual host core count (capped at 32 —
# beyond that a single local JVM is scheduler-bound), env-overridable.
# A hardcoded constant would oversubscribe smaller machines.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", str(min(32, os.cpu_count() or 4)))
)


def build_session(
    app_name: str = "employee_analytics_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
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
    # SPARK_GRAFT_MASTER lets the bench/selfcheck harnesses swap the
    # execution topology without code changes — in particular
    # local-cluster[N,C,M] (N separate executor JVMs × C cores × M MB
    # each), which exercises real serialization, broadcast transport,
    # and per-executor heaps that local[*]'s single shared JVM cannot
    # (r8 verdict: every number ever measured shared one heap).
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
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )

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
        # driver testdata ships TIMESTAMP(NANOS) parquet columns (events.ts);
        # Spark has no nanos type — read as epoch-nanos long, normalized in
        # sources.readers.read_parquet_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # static conf — bucketed-table tests need a writable warehouse
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
