"""Driving the engine from outside: session lifetime, set-up cycles and
the registry, using only the package's public functions."""

from __future__ import annotations

import gc
import importlib
import pkgutil
import statistics
import time

from . import host

# The set-up probe: one small shuffle job, so a set-up cycle ends when
# the session has answered a query, not when build_session returns.
PROBE_ROWS = 200_000
# time given to the ContextCleaner after each forced collection, and
# the fewest and most collections made to read the live heap
CLEANER_WAIT_S = 0.3
HEAP_READINGS_MIN, HEAP_READINGS_MAX = 6, 12


class Engine:
    """Owns the SparkSession and the driver JVM behind it."""

    def __init__(self, tmp_dir: str):
        self.tmp_dir = tmp_dir
        self.spark = None
        self.jvm_pid = None

    def build(self, event_log_dir: str | None = None):
        from employee_analytics_etl_spark.session import build_session

        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp_dir}"}
        if event_log_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_session(app_name="perfbench", extra_conf=conf)
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_bytes(self) -> int | None:
        return host.peak_rss_bytes(self.jvm_pid) if self.jvm_pid else None

    def live_heap_readings(self, cpus: int) -> list[int]:
        """Driver heap still in use after each of several full
        collections; the lowest reading is the live heap.

        The probe job runs first: without it the reading depends on
        which query ran last. Python's collection follows, since a
        DataFrame caught in a reference cycle keeps its JVM objects
        alive until then. A JVM collection hands unreachable shuffles,
        broadcasts and RDDs to Spark's ContextCleaner, which drops their
        blocks on its own thread, and after an Arrow UDF query that
        takes more than a second; so collect for at least
        ``HEAP_READINGS_MIN * CLEANER_WAIT_S`` seconds and until three
        readings agree."""
        probe(self.spark, cpus)
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        readings = []
        for _ in range(HEAP_READINGS_MAX):
            jvm.java.lang.System.gc()
            time.sleep(CLEANER_WAIT_S)
            readings.append(rt.totalMemory() - rt.freeMemory())
            last = readings[-3:]
            if len(readings) >= HEAP_READINGS_MIN and max(last) <= 1.01 * min(last):
                break
        return readings

    def storage_bytes(self) -> int:
        """Memory plus disk held by cached and checkpointed blocks."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)


def probe(spark, cpus: int) -> None:
    spark.range(0, PROBE_ROWS, numPartitions=cpus).selectExpr(
        "id % 97 AS k"
    ).groupBy("k").count().collect()


def setup_cycles(engine: Engine, cycles: int, cpus: int) -> dict:
    """Build the session ``cycles`` times (the first also launches the
    JVM), each followed by the probe job. Returns every cycle's time,
    their median, and the median build-only time."""
    total, build = [], []
    for i in range(cycles):
        if i:
            engine.stop()
        t0 = time.perf_counter()
        spark = engine.build()
        t1 = time.perf_counter()
        probe(spark, cpus)
        total.append(time.perf_counter() - t0)
        build.append(t1 - t0)
    return {
        "setup_s": statistics.median(total),
        "cycles_s": total,
        "build_s": statistics.median(build),
    }


def load_registry():
    """Import every module of the plans package (registering every
    query) and return the registry's query and oracle maps."""
    import employee_analytics_etl_spark.plans as plans

    for mod in pkgutil.iter_modules(plans.__path__):
        importlib.import_module(f"{plans.__name__}.{mod.name}")
    from employee_analytics_etl_spark.plans import registry

    return registry.QUERIES, registry.ORACLE
