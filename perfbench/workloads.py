"""The benchmark's workloads.

Each workload has three phases, run by ``run.py``:

- ``prepare``: make the inputs from the seed (untimed, no Spark);
- ``warmup``: run every operation once, untimed, and check its output;
  this is also the JIT/codegen warm-up;
- ``measure``: the timed closed loop, one span per operation.

Operations that raise or return wrong output are recorded with
``ctx.attempt`` and count against ``failed``; nothing is skipped.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
import statistics

import numpy as np
import pandas as pd

from . import datagen, hrgen, oracle
from .tracing import duration, self_time, subtree_totals


class HrPipeline:
    """Repeated full ``run_pipeline`` runs (CSV load and report on, JDBC
    off) over seeded CSVs: the paper's system, and the only workload
    that decodes CSV, fills caches and writes files."""

    name = "hr_pipeline"
    # Small enough that the five cached frames sit in storage memory.
    N_EMPLOYEES = 2000
    # wall of one timed run on a 4-CPU host; sets how many runs fit
    NOMINAL_OP_S = 6.5
    # After the cold run, back-to-back runs still get faster (7.2, 6.3,
    # 5.9 s on a 4-CPU host), so the timed runs report their median in
    # place of more warm-up: the median of the first two spread across
    # seeds no wider than that of three.
    WARMUP_RUNS = 1
    WRAPPED = {
        "validation": ("validate_employees", "validate_reviews",
                       "validate_projects", "validate_assignments"),
        "sinks": ("write_csv",),
        "reporting": ("generate_summary_report",),
    }

    def prepare(self, ctx) -> None:
        self.raw = os.path.join(ctx.work, "tmp", "hr_raw")
        shutil.rmtree(self.raw, ignore_errors=True)
        self.counts = hrgen.write_hr_csvs(self.raw, ctx.seed, self.N_EMPLOYEES)
        self.want = hrgen.golden(self.raw)
        self.input_rows = sum(self.counts.values())
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.raw, f"{t}.csv")) for t in hrgen.HR_FILES
        )
        self.cache_bytes = 0
        self.runs = 0

    def _run(self, ctx, tracer, kind: str):
        from employee_analytics_etl_spark.config import PipelineConfig
        from employee_analytics_etl_spark.plans.pipeline import run_pipeline

        self.runs += 1
        out = os.path.join(ctx.work, "tmp", "hr_out", str(self.runs))
        shutil.rmtree(out, ignore_errors=True)
        conf = PipelineConfig(
            raw_dir=self.raw, processed_dir=out,
            report_path=os.path.join(out, "report.txt"), as_of=hrgen.AS_OF.date(),
        )
        with tracer.span("pipeline", kind=kind) as sp:
            res = run_pipeline(ctx.engine.spark, conf)
        problems = hrgen.check(self.raw, out, res["volume_stats"], self.counts, self.want)
        if not os.path.exists(conf.report_path) or not res["report"]:
            problems.append("summary report missing")
        shutil.rmtree(out, ignore_errors=True)
        if problems:
            raise AssertionError("; ".join(problems[:5]))
        return sp

    def warmup(self, ctx, tracer) -> None:
        for _ in range(self.WARMUP_RUNS):
            ctx.attempt("pipeline.warmup", lambda: self._run(ctx, tracer, "warmup"))

    def measure(self, ctx, tracer) -> dict:
        with self._wrapped(ctx, tracer):
            ops = []
            for _ in range(whole_ops(ctx.seconds, self.NOMINAL_OP_S)):
                sp = ctx.attempt("pipeline", lambda: self._run(ctx, tracer, "op"))
                if sp is not None:
                    ops.append(sp)
        lat = [duration(s) for s in ops]
        return {
            "latencies": lat,
            "throughput_per_s": self.input_rows * len(lat) / sum(lat) if lat else 0.0,
            "ops": ops,
        }

    @contextlib.contextmanager
    def _wrapped(self, ctx, tracer):
        """In a traced run, open a span around each validation, sink and
        report call that ``run_pipeline`` makes."""
        if tracer.sc is None:
            yield
            return
        import employee_analytics_etl_spark.plans.pipeline as P
        import employee_analytics_etl_spark.plans.validation as V

        patched = []

        def wrap(mod, attr, layer):
            orig = getattr(mod, attr)

            def traced(*a, **kw):
                if attr == "validate_employees":
                    # the cleaned frames are cached and counted by now
                    self.cache_bytes = max(self.cache_bytes, ctx.engine.storage_bytes())
                with tracer.span(f"{layer}.{attr}", layer=layer):
                    return orig(*a, **kw)

            setattr(mod, attr, traced)
            patched.append((mod, attr, orig))

        for layer, attrs in self.WRAPPED.items():
            for attr in attrs:
                wrap(V if layer == "validation" else P, attr, layer)
        try:
            yield
        finally:
            for mod, attr, orig in patched:
                setattr(mod, attr, orig)

    def layer_metrics(self, ctx, spans, per_span) -> dict:
        ops = [s for s in spans if s.get("kind") == "op"]
        n = max(1, len(ops))

        def layer(name):
            return [s for s in spans if s.get("layer") == name]

        def per_run(sub, counter=None):
            if counter is None:
                return sum(map(duration, sub)) / n
            return sum(subtree_totals(s["id"], spans, per_span)[counter] for s in sub) / n

        validation, reporting, sinks = layer("validation"), layer("reporting"), layer("sinks")
        written = per_run(sinks, "bytes_written")
        return {
            "plans.pipeline.self_s": sum(self_time(s, spans) for s in ops) / n,
            "plans.validation.s": per_run(validation),
            "plans.validation.jobs": per_run(validation, "jobs"),
            "plans.reporting.s": per_run(reporting),
            "plans.reporting.jobs": per_run(reporting, "jobs"),
            "sources.sinks.write_s": per_run(sinks),
            "sources.sinks.bytes_written": written,
            "sources.sinks.bytes_per_input_byte": written / self.input_bytes,
            "plans.pipeline.cache_bytes": self.cache_bytes,
            "operators.pinned_bytes_peak": self.cache_bytes,
        }


class LlmData:
    """Dedup, entity-resolution and similarity registry queries at a
    small scale, plus the streaming twin of dedup draining a seeded
    event backlog. Fixed per-query cost dominates: construction-time
    jobs, checkpoint scans, Arrow UDF stages, driver round trips and
    per-micro-batch overhead."""

    name = "llm_data"
    DATA_SEED = 20_240_101
    SCALE = 0.02
    # One query per family (minhash, simhash, entity resolution, IVF,
    # k-means, bigram LM, graph); perfbench/README.md gives the traced
    # survey of all sixteen that chose them. Together they hold
    # construction-time jobs and checkpoint scans (entity resolution,
    # k-means, PPR, simhash), Arrow UDF stages (simhash, entity
    # resolution, k-means) and execute-heavy scans (minhash, bigram LM).
    QUERIES = (
        "dedup_minhash_candidates",
        "dedup_simhash_candidates",
        "entity_resolution_pipeline",
        "knn_ivf_cosine",
        "kmeans_embedding_clusters",
        "doc_bigram_lm_score",
        "graph_ppr_related_entities",
    )
    STREAM = "dedup_events_stream"
    # the stream drains STREAM_FILES event files, one micro-batch each,
    # so the dedup state store carries keys from batch to batch
    STREAM_FILES, STREAM_ROWS, STREAM_DUP_SHARE = 3, 6000, 0.05
    # wall of one timed pass over the queries and the stream, 4-CPU host
    NOMINAL_OP_S = 12.5

    def prepare(self, ctx) -> None:
        self.data = os.path.join(ctx.work, "tmp", "llm_tables")
        datagen.write_dataset(self.data, self.DATA_SEED, self.SCALE)
        self.order = [*self.QUERIES, self.STREAM]
        random.Random(ctx.seed).shuffle(self.order)
        self.stream_dir = os.path.join(ctx.work, "tmp", "stream_events")
        self.stream_want, self.stream_rows = write_stream_events(
            self.stream_dir, ctx.seed, self.STREAM_FILES, self.STREAM_ROWS, self.STREAM_DUP_SHARE
        )
        self.pinned_peak = 0
        self.stream_progress: list[dict] = []

    def warmup(self, ctx, tracer) -> None:
        from .engine import load_registry

        self.queries, oracles = load_registry()
        con = oracle.connect(self.data, datagen.TABLES)
        try:
            for q in self.order:
                check = self._check_stream if q == self.STREAM else self._check
                ctx.attempt(f"{q}.check", lambda q=q, c=check: c(ctx, tracer, con, q, oracles))
        finally:
            con.close()

    def _check(self, ctx, tracer, con, q, oracles) -> None:
        with tracer.span(q, kind="warmup"):
            got = self.queries[q](ctx.engine.spark, self.data).toPandas()
        if q not in oracles:
            raise AssertionError("no oracle SQL registered")
        problems = oracle.compare(got, con.execute(oracles[q]).df())
        if problems:
            raise AssertionError("; ".join(problems))

    def _stream_df(self, spark):
        from employee_analytics_etl_spark.streaming.jobs import (
            build_events_stream, dedup_events_stream)

        return dedup_events_stream(build_events_stream(
            spark, self.stream_dir, glob="*.parquet", max_files_per_trigger=1))

    def _check_stream(self, ctx, tracer, con, q, oracles) -> None:
        """Every event id exactly once, as first seen: repeats arrive
        in later micro-batches and must be dropped by the state store."""
        from employee_analytics_etl_spark.streaming.jobs import run_to_memory

        spark = ctx.engine.spark
        with tracer.span(q, kind="warmup"):
            got = run_to_memory(self._stream_df(spark), "perfbench_dedup", spark,
                                output_mode="append").toPandas()
        got = got.assign(ts=got["ts"].astype("datetime64[us]"))
        cols = list(self.stream_want.columns)
        got = got[cols].sort_values("event_id").reset_index(drop=True)
        if len(got) != len(self.stream_want) or not got.equals(self.stream_want):
            raise AssertionError(
                f"stream dedup: {len(got)} rows emitted, {len(self.stream_want)} distinct events"
            )

    def _run_stream(self, ctx, tracer, ckpt: str):
        with tracer.span("construct", phase="construct"):
            df = self._stream_df(ctx.engine.spark)
        with tracer.span("execute", phase="execute"):
            q = (df.writeStream.format("noop").outputMode("append")
                 .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
            tracer.adopt(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = q.recentProgress
        read = sum(p["numInputRows"] for p in progress)
        if read != self.stream_rows:
            raise AssertionError(f"stream read {read} of {self.stream_rows} rows")
        self.stream_progress += progress

    def _query(self, ctx, tracer, q):
        ckpt = os.path.join(ctx.work, "tmp", "ckpt", f"{tracer.run_id}-{len(tracer.spans)}")
        with tracer.span("query", kind="op", query=q) as sp:
            if q == self.STREAM:
                self._run_stream(ctx, tracer, ckpt)
            else:
                with tracer.span("construct", phase="construct"):
                    df = self.queries[q](ctx.engine.spark, self.data)
                with tracer.span("execute", phase="execute"):
                    df.write.format("noop").mode("overwrite").save()
        if tracer.sc is not None:
            self.pinned_peak = max(self.pinned_peak, ctx.engine.storage_bytes())
        return sp

    def measure(self, ctx, tracer) -> dict:
        self.stream_progress = []
        ops = []
        for _ in range(whole_ops(ctx.seconds, self.NOMINAL_OP_S)):
            done = [ctx.attempt(q, lambda q=q: self._query(ctx, tracer, q)) for q in self.order]
            ops += [s for s in done if s is not None]
        lat = [duration(s) for s in ops]
        return {
            "latencies": lat,
            # every query moves this one, the fastest and slowest too
            "throughput_per_s": len(lat) / sum(lat) if lat else 0.0,
            "ops": ops,
        }

    def layer_metrics(self, ctx, spans, per_span) -> dict:
        ops = [s for s in spans if s.get("kind") == "op"]
        n = max(1, len(ops))
        out = {}
        for phase in ("construct", "execute"):
            sub = [s for s in spans if s.get("phase") == phase]
            out[f"plans.{phase}_s"] = sum(map(duration, sub)) / n
            if phase == "construct":
                out["plans.construct_jobs"] = sum(
                    subtree_totals(s["id"], spans, per_span)["jobs"] for s in sub
                ) / n
        out["operators.pinned_bytes_peak"] = self.pinned_peak
        out.update(stream_metrics(self.stream_progress))
        return out


def write_stream_events(out_dir: str, seed: int, files: int, rows: int, dup_share: float):
    """Event files for the dedup stream, in event-time order over six
    hours, one file per micro-batch. A share of each later file's rows
    repeats an earlier file's event verbatim. Returns the distinct
    events (the expected output, sorted by id) and the total row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    lo = np.datetime64("2024-01-01T00:00:00", "us")
    ts = lo + np.sort(rng.integers(0, 6 * 3_600_000_000, rows)).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(rows, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 500, rows).astype(np.int64),
        "event_type": np.asarray(datagen.EVENT_TYPES, dtype=object)[rng.integers(0, 5, rows)],
        "value": np.round(rng.exponential(50.0, rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
    })
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    bounds = np.linspace(0, rows, files + 1).astype(int)
    total = 0
    for i in range(files):
        part = events.iloc[bounds[i]:bounds[i + 1]]
        if i:
            n_dup = int(len(part) * dup_share)
            part = pd.concat([part, events.iloc[rng.integers(0, bounds[i], n_dup)]])
        path = os.path.join(out_dir, f"events-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        # the file source takes the oldest file first
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        total += len(part)
    want = events[["event_id", "ts", "user_id", "event_type", "value"]]
    return want.reset_index(drop=True), total


def stream_metrics(progress: list[dict]) -> dict:
    """Per-micro-batch means (durations) and maxima (state) from the
    stream's ``recentProgress``."""
    def mean_ms(key):
        xs = [p["durationMs"].get(key, 0) for p in progress]
        return statistics.fmean(xs) / 1e3 if xs else 0.0

    data = [p for p in progress if p["numInputRows"] > 0]
    ratios = [p["inputRowsPerSecond"] / p["processedRowsPerSecond"]
              for p in data if p.get("processedRowsPerSecond") and p.get("inputRowsPerSecond")]
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    # before the first batch sets it, the watermark reads as the epoch
    lags = [_iso(p["eventTime"]["max"]) - _iso(p["eventTime"]["watermark"])
            for p in data if _iso(p.get("eventTime", {}).get("watermark", "1970-01-01T00:00:00Z")) > 0]
    return {
        "streaming.add_batch_s": mean_ms("addBatch"),
        "streaming.wal_commit_s": mean_ms("walCommit"),
        "streaming.get_batch_s": mean_ms("getBatch"),
        "streaming.input_vs_processed": statistics.fmean(ratios) if ratios else 0.0,
        "streaming.state_rows": max((s.get("numRowsTotal", 0) for s in state), default=0),
        "streaming.state_mem_bytes": max((s.get("memoryUsedBytes", 0) for s in state), default=0),
        "streaming.watermark_lag_s": max(lags, default=0.0),
    }


def whole_ops(seconds: float, nominal_s: float) -> int:
    """Closed-loop operations per measure phase: as many whole ones as
    fit in ``seconds`` on the reference host, at least one. The count
    depends only on ``seconds``, so every run has the same samples and
    the same tail percentile whatever the host's speed that day."""
    return max(1, int(seconds / nominal_s + 0.5))


def _iso(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


WORKLOADS = {w.name: w for w in (HrPipeline, LlmData)}
