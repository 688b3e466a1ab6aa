"""The traced run: per-op layer records and the per-layer metrics.

Tracing alternates by cycle: even cycles run instrumented, odd cycles
run plain, so the difference between the two is the tracing overhead,
measured on the same warm process.  Only instrumented ops feed the
per-layer metrics.
"""

from __future__ import annotations

import statistics

from trace import StageMetrics, make_stream_listener
from workloads import summarize


class Instrumentation:
    #: cycle numbers of the ``local[1]`` baseline, clear of measured ones
    BASELINE_CYCLE = 1000

    def __init__(self, spark, wl, tracer, cores: int) -> None:
        import fluvio_duck_spark.sources.tables as tables

        self.spark = spark
        self.wl = wl
        self.tracer = tracer
        self.cores = cores
        self.tables = tables
        self.plain_schema = tables.table_schema
        self.stages = StageMetrics(spark)
        self.listener = None
        self.storage = (0, 0)

        def timed_schema(spark, path):
            before = len(tables._SCHEMA_CACHE)
            with tracer.span("sources.tables.schema"):
                schema = self.plain_schema(spark, path)
            tracer.count("schema_misses", len(tables._SCHEMA_CACHE) - before)
            return schema

        self.timed_schema = timed_schema

    def set_traced(self, on: bool) -> None:
        """Switch the instrumentation on or off between cycles."""
        self.tracer.enabled = on
        # call sites import table_schema at call time, so this reaches them
        self.tables.table_schema = self.timed_schema if on else self.plain_schema
        if on:
            if self.wl.name == "ingest_commit" and self.listener is None:
                self.listener = make_stream_listener(self.spark)
            self.stages.delta()  # drop what the plain cycle ran
            if self.listener:
                self.listener.take()
            self.storage = self.wl.storage()
        elif self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None

    def after_op(self, op) -> None:
        d = self.stages.delta()
        d["batches"] = self.listener.take() if self.listener else []
        files, size = self.wl.storage()
        d["files_written"] = files - self.storage[0]
        d["bytes_written"] = size - self.storage[1]
        self.storage = (files, size)
        if self.wl.version:
            v = self.wl.version
            d["files_per_commit"] = self.wl.manifest_files(v) - (
                self.wl.manifest_files(v - 1) if v > 1 else 0)
            d["manifest_bytes"] = self.wl.manifest_bytes(v)
        op.layers = d

    def single_thread_baseline(self, start_session, run_dir, ops) -> dict:
        """ingest_commit only: two more cycles on a ``local[1]`` session
        (same JVM, fresh SparkContext), the first discarded as warm-up;
        the single-thread baseline for core use."""
        if self.wl.name != "ingest_commit":
            return {"local1_rps": 0.0, "speedup": 0.0, "ops": []}
        self.spark.stop()
        self.spark = start_session(run_dir, 1)
        self.wl.bind(self.spark, self.tracer)
        base = [self.wl.run_op(kind, prep, False, n)
                for n in (self.BASELINE_CYCLE, self.BASELINE_CYCLE + 1)
                for kind, prep in self.wl.cycle(n)]
        timed = [o for o in base if o.cycle == self.BASELINE_CYCLE + 1]
        plain = [o for o in ops if not o.traced]
        rps1 = sum(o.records for o in timed) / sum(o.seconds for o in timed)
        rps = sum(o.records for o in plain) / sum(o.seconds for o in plain)
        return {"local1_rps": rps1, "speedup": rps / rps1, "ops": base}


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def per_layer(ops, wl, inst, extra) -> dict:
    tr = inst.tracer
    traced = [o for o in ops if o.traced]
    plain = [o for o in ops if not o.traced]
    wall = summarize(plain)
    n = len(traced)
    lay = [o.layers for o in traced]
    batches = [b for d in lay for b in d.get("batches", [])]
    run_ms = sum(d["run_ms"] for d in lay)
    exec_s = tr.total("exec.run")
    op_s = sum(o.seconds for o in traced)
    covered = sum(tr.total(s) for s in (
        "options.parse", "sources.consume.build", "catalyst.plan", "exec.run"))
    reads = [o for o in traced if o.kind == "ingest_read"]
    commits = [d for d in lay if "files_per_commit" in d]
    in_bytes = sum(o.input_bytes for o in traced)
    written = sum(d["bytes_written"] for d in lay)
    m = {
        "wall.throughput_rps": (wall["rps"], "1/s"),
        "wall.latency_p50_s": (wall["p50_s"], "s"),
        "wall.latency_min_s": (wall["min_s"], "s"),
        "host.steal_share": (wall["steal"], "ratio"),
        "jvm.jit_cpu_share": (sum(o.jit_s for o in plain)
                              / sum(o.cpu_s for o in plain), "ratio"),
        "options.parse_s": (tr.total("options.parse") / n, "s"),
        "sources.consume.build_s": (tr.total("sources.consume.build") / n, "s"),
        "catalyst.plan_s": (tr.total("catalyst.plan") / n, "s"),
        "sources.tables.schema_s": (tr.total("sources.tables.schema") / n, "s"),
        "sources.tables.schema_misses": (tr.counts["schema_misses"] / n, "count"),
        "exec.run_s": (exec_s / n, "s"),
        "exec.jobs": (sum(d["jobs"] for d in lay) / n, "count"),
        "exec.tasks": (sum(d["tasks"] for d in lay) / n, "count"),
        "exec.core_util": (run_ms / 1000 / (exec_s * inst.cores)
                           if exec_s else 0.0, "ratio"),
        "exec.shuffle_bytes": (sum(d["shuffle_bytes"] for d in lay) / n, "B"),
        "exec.gc_share": (sum(d["gc_ms"] for d in lay) / run_ms
                          if run_ms else 0.0, "ratio"),
        "exec.local1_rps": (extra["local1_rps"], "1/s"),
        "exec.parallel_speedup": (extra["speedup"], "ratio"),
        "streaming.drain_s": (tr.total("streaming.drain") / n, "s"),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.plan_ms": (_mean([b.get("queryPlanning", 0.0)
                                     for b in batches]), "ms"),
        "streaming.commit_ms": (_mean([b.get("walCommit", 0.0)
                                       + b.get("commitOffsets", 0.0)
                                       for b in batches]), "ms"),
        "streaming.add_batch_ms": (_mean([b.get("addBatch", 0.0)
                                          for b in batches]), "ms"),
        "streaming.backlog_records": (float(max(wl.backlog, default=0)),
                                      "count"),
        "snapshots.append_s": (tr.total("snapshots.append") / n, "s"),
        "snapshots.read_as_of_s": (tr.total("snapshots.read_as_of") / len(reads)
                                   if reads else 0.0, "s"),
        "snapshots.files_per_commit": (_mean([d["files_per_commit"]
                                              for d in commits]), "count"),
        "snapshots.manifest_bytes": (float(commits[-1]["manifest_bytes"])
                                     if commits else 0.0, "B"),
        "storage.bytes_written": (written / n, "B"),
        "storage.files_written": (sum(d["files_written"] for d in lay) / n,
                                  "count"),
        "storage.bytes_per_input_byte": (written / in_bytes
                                         if in_bytes else 0.0, "ratio"),
        "trace.span_coverage": (covered / op_s, "ratio"),
        "trace.overhead_share": (_mean([o.seconds for o in traced])
                                 / _mean([o.seconds for o in plain]) - 1.0
                                 if plain else 0.0, "ratio"),
    }
    return m
