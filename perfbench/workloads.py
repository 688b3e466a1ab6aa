"""The closed-loop workloads.

One client runs ops back to back.  Every op is timed from its first
call into the package to the moment its result is in hand; landing
input, computing the expected answer and checking the result all happen
outside that interval.  Ops come in fixed cycles (the same op kinds in
the same order, with seeded parameters), and a run always measures
whole cycles, so every run weighs the op kinds alike.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import LogGenerator, SegmentLander, write_segment
from oracle import Oracle, same
from trace import host_cpu, steal_share, tree_cpu_s


@dataclass
class OpResult:
    kind: str
    seconds: float
    records: int
    ok: bool
    traced: bool
    cycle: int
    steal: float
    cpu_s: float
    jit_s: float
    input_bytes: int = 0
    layers: dict = field(default_factory=dict)


def summarize(ops: list[OpResult]) -> dict[str, float]:
    """Run-level figures from measured ops.

    * ``cpu_ms_per_krecord``: per cycle, CPU milliseconds the JVM, its
      Python workers and the client spent per 1000 records covered,
      less the JVM's JIT compiler threads; median over cycles.  Stolen
      CPU time is not in it, so it holds still when the host is busy.
      The JIT still compiles through the measured cycles (Spark
      generates new classes for every query), at a share that swings
      from run to run.
    * ``rps``: per cycle, records covered ÷ summed op wall time; median
      over cycles.
    * ``p50_s``: the geometric mean over op kinds of each kind's median
      wall time (a pooled median over a mix of kinds jumps between kinds
      from run to run).
    * ``min_s``: the same with each kind's fastest op.  An op the host
      stole CPU from is slow, but the fastest of a kind's ops is the one
      that lost least, so this figure keeps waiting the program adds
      (coordination, polling, fsync, work held to fewer cores) and sheds
      most of the steal.
    * ``steal``: median over ops of the host's stolen CPU share."""
    cycles: dict[int, list[OpResult]] = {}
    kinds: dict[str, list[float]] = {}
    for o in ops:
        cycles.setdefault(o.cycle, []).append(o)
        kinds.setdefault(o.kind, []).append(o.seconds)
    per_cycle = [(sum(o.records for o in c), sum(o.seconds for o in c),
                  sum(o.cpu_s - o.jit_s for o in c)) for c in cycles.values()]
    return {
        "cpu_ms_per_krecord": statistics.median(
            cpu * 1e6 / rec for rec, _s, cpu in per_cycle),
        "rps": statistics.median(rec / sec for rec, sec, _c in per_cycle),
        "p50_s": statistics.geometric_mean(
            [statistics.median(v) for v in kinds.values()]),
        "min_s": statistics.geometric_mean([min(v) for v in kinds.values()]),
        "steal": statistics.median(o.steal for o in ops),
    }


class Workload:
    """Base class.  Subclasses fill :meth:`generate`, :meth:`warm_up`
    and :meth:`cycle`; :meth:`cycle` yields ``(kind, prepare)`` pairs,
    where ``prepare()`` runs untimed and returns ``(run, check,
    records, input_bytes)``: ``run()`` is the timed part and
    ``check(result)`` the untimed result check."""

    name = ""
    #: write workloads: records landed but not yet in the sink, per op
    backlog: tuple = ()
    #: write workloads: newest committed table version
    version = 0

    def __init__(self, run_dir: str, repo_root: str, seed: int) -> None:
        self.run_dir = run_dir
        self.repo_root = repo_root
        self.seed = seed
        self.oracle = Oracle()
        self.spark = None
        self.tracer = None

    def bind(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> list[OpResult]:
        raise NotImplementedError

    def cycle(self, n: int):
        raise NotImplementedError

    def run_op(self, kind: str, prepare, traced: bool,
               cycle: int) -> OpResult:
        run, check, records, input_bytes = prepare()
        ok = False
        cpu0 = host_cpu()
        pcpu0, jit0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            result = run()
            seconds = time.perf_counter() - t0
            steal = steal_share(cpu0, host_cpu())
            pcpu1, jit1 = tree_cpu_s(os.getpid())
            ok = bool(check(result))
            if not ok:
                print(f"perfbench: {self.name}/{kind}: result check failed",
                      file=sys.stderr)
        except Exception:  # an op that raises counts as failed, run goes on
            seconds = time.perf_counter() - t0
            steal = steal_share(cpu0, host_cpu())
            pcpu1, jit1 = tree_cpu_s(os.getpid())
            traceback.print_exc(file=sys.stderr)
        cpu_s, jit_s = pcpu1 - pcpu0, jit1 - jit0
        print(f"perfbench: op {cycle} {kind} {seconds:.4f} s cpu {cpu_s:.3f} s "
              f"jit {jit_s:.3f} s steal {steal:.4f}", file=sys.stderr)
        return OpResult(kind, seconds, records, ok, traced, cycle, steal,
                        cpu_s, jit_s, input_bytes)

    def storage(self) -> tuple[int, int]:
        """(files, bytes) the program has persisted so far."""
        return 0, 0

    def close(self) -> None:
        self.oracle.close()


def _dir_usage(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for base, _dirs, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


# ---------------------------------------------------------------- consume_read

class ConsumeRead(Workload):
    """Bounded scans over a multi-file log, each with an aggregate on
    top.  Reads only."""

    name = "consume_read"
    LOG_RECORDS = 100_000
    LOG_FILES = 8
    WARM_UP_CYCLES = 4

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.run_dir, "log")
        table = os.path.join(self.sf_dir, "events.parquet")
        os.makedirs(table)
        gen = LogGenerator(self.seed, stream=0)
        per = self.LOG_RECORDS // self.LOG_FILES
        parts = []
        for i in range(self.LOG_FILES):
            tbl = gen.take(per)
            write_segment(tbl, os.path.join(table, f"seg-{i:05d}.parquet"))
            parts.append(tbl)
        self.n = per * self.LOG_FILES
        self.flat = self.oracle.load(pa.concat_tables(parts))
        self.jolt = os.path.join(self.repo_root, "examples", "jolt.yaml")

    def warm_up(self) -> list[OpResult]:
        # the JIT keeps speeding these reads up for several cycles
        return [self.run_op(kind, prep, False, c)
                for c in range(-self.WARM_UP_CYCLES, 0)
                for kind, prep in self.cycle(c)]

    # each op: (kind, option string or SQL, aggregate, expected SQL)
    def _specs(self, rng):
        n, t, J = self.n, self.flat, self.jolt
        third, tenth = n // 3, n // 10
        h = int(rng.integers(0, n - third))
        s = int(rng.integers(0, n - third))
        j = int(rng.integers(0, n - third))
        q = int(rng.integers(0, n - n // 2))
        p = int(rng.integers(0, 4))
        sum_k = ["count(*)", "sum(k)"]
        by_route = "route, count(*), avg(speed)"
        return [
            ("beginning", f"events -A -B --rows {n // 2} -c k:i=k", sum_k,
             f"SELECT count(*), sum(k) FROM {t} WHERE event_id < {n // 2}"),
            ("tail", f"events -A -T {third} --rows {third} "
             "-c speed:d=payload.VP.spd", ["count(*)", "sum(speed)"],
             f"SELECT count(*), sum(speed) FROM {t} "
             f"WHERE event_id >= {n - third}"),
            ("head", f"events -A -H {h} --rows {third} "
             "-c veh:i=payload.VP.veh", ["count(*)", "sum(veh)"],
             f"SELECT count(*), sum(veh) FROM {t} "
             f"WHERE event_id >= {h} AND event_id < {h + third}"),
            ("range_typed", f"events -A --start {s} --end {s + third - 1} "
             f"--rows {n} -c lat:d=payload.VP.lat -c long:d=payload.VP.long "
             "-c tst:t=payload.VP.tst -c veh:l=payload.VP.veh",
             ["count(*)", "avg(lat)", "max(long)", "unix_micros(max(tst))",
              "min(veh)"],
             "SELECT count(*), avg(lat), max(long), max(tst_us), min(veh) "
             f"FROM {t} WHERE event_id >= {s} AND event_id < {s + third}"),
            ("partition", f"events -p {p} -B --rows {tenth} -c k:i=k", sum_k,
             f"SELECT count(*), sum(k) FROM (SELECT k FROM {t} WHERE part = {p} "
             f"ORDER BY event_id LIMIT {tenth})"),
            ("jolt", f"events -A --start {j} --rows {third} "
             f"--transforms-file={J} -c route=route -c speed:d=speed",
             "route",
             f"SELECT {by_route} FROM {t} WHERE event_id >= {j} AND "
             f"event_id < {j + third} GROUP BY route ORDER BY route"),
            ("sql", "SELECT route, count(*) AS n, avg(speed) AS s FROM "
             f"fluvio_consume('events -A --start {q} --rows {n // 2} "
             f"--transforms-file={J} -c route=route -c speed:d=speed') "
             "GROUP BY route", None,
             f"SELECT {by_route} FROM {t} WHERE event_id >= {q} AND "
             f"event_id < {q + n // 2} GROUP BY route ORDER BY route"),
        ]

    def cycle(self, n: int):
        rng = np.random.default_rng([self.seed, 1, n + 10])
        for kind, opts, agg, want_sql in self._specs(rng):
            yield kind, (lambda k=kind, o=opts, a=agg, w=want_sql:
                         self._prepare(k, o, a, w))

    def _prepare(self, kind, opts, agg, want_sql):
        from pyspark.sql import functions as F

        from fluvio_duck_spark import consume_sql, fluvio_consume
        from fluvio_duck_spark.options import parse_consume_opts

        want = self.oracle.rows(want_sql)
        grouped = kind in ("jolt", "sql")
        records = sum(r[1] for r in want) if grouped else want[0][0]
        spark, tr, sf = self.spark, self.tracer, self.sf_dir

        def run():
            if kind == "sql":
                with tr.span("sources.consume.build"):
                    df = consume_sql(spark, opts, sf_dir=sf)
            else:
                with tr.span("options.parse"):
                    parsed = parse_consume_opts(opts)
                with tr.span("sources.consume.build"):
                    df = fluvio_consume(spark, parsed, sf_dir=sf)
                    if grouped:
                        df = df.groupBy(agg).agg(F.count("*"), F.avg("speed"))
                    else:
                        df = df.agg(*[F.expr(e) for e in agg])
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("exec.run"):
                return df.collect()

        def check(rows):
            got = [tuple(r) for r in rows]
            if grouped:
                got.sort(key=lambda r: r[0])
            return same(got, want)

        return run, check, records, 0


# ---------------------------------------------------------------- ingest_commit

STREAM_OPTS = ("events -A -B -c k:i=k -c veh:i=payload.VP.veh "
               "-c route=payload.VP.route -c speed:d=payload.VP.spd "
               "-c tst=payload.VP.tst")
COMMIT_COLS = ("-c tst=payload.VP.tst -c veh:i=payload.VP.veh "
               "-c route=payload.VP.route -c k:i=k -c speed:d=payload.VP.spd")
AUDIT_COLS = ["tst", "veh", "route", "k"]


class IngestCommit(Workload):
    """Each op lands one segment on the topic, then (1) drains exactly
    the new records into a parquet sink with ``fluvio_consume_stream`` +
    ``run_stream_to_parquet`` and a persistent checkpoint, and (2)
    ``fluvio_consume``s the segment's offset range and commits it as a
    new version of a manifest-versioned table partitioned by route.  The
    first op of a cycle creates the table; the last also reads the new
    version back.

    Every cycle starts on fresh state: a new topic, sink, checkpoint and
    table, so each cycle does the same work on state of the same size,
    however many cycles a run fits in.  The previous cycle's directories
    are removed before the next cycle's first op (untimed)."""

    name = "ingest_commit"
    SEGMENT_RECORDS = 25_000
    KINDS = ("ingest_create", "ingest", "ingest_read")
    WARM_UP_CYCLES = 3

    def generate(self) -> None:
        from fluvio_duck_spark.functions.checksum import (
            CHECKSUM_MODULUS, checksum_sql)

        self._modulus = CHECKSUM_MODULUS
        self._checksum_sql = checksum_sql
        self.backlog: list[int] = []
        self.cycle_dir = None
        self.retired = (0, 0)  # (files, bytes) of removed cycles

    def _new_cycle(self, n: int) -> None:
        if self.cycle_dir is not None:
            self.retired = self.storage()
            shutil.rmtree(self.cycle_dir)
        self.cycle_dir = os.path.join(self.run_dir, f"cycle{n}")
        self.sf_dir = os.path.join(self.cycle_dir, "topic")
        self.out = os.path.join(self.cycle_dir, "sink")
        self.chk = os.path.join(self.cycle_dir, "checkpoint")
        self.root = os.path.join(self.cycle_dir, "table")
        self.lander = SegmentLander(os.path.join(self.cycle_dir, "staging"),
                                    os.path.join(self.sf_dir, "events.parquet"))
        self.gen = LogGenerator(self.seed, stream=100 + n)
        self.landed_rows = 0
        self.drained_rows = 0
        self.seen_out: set[str] = set()
        self.rows = 0
        self.fold = 0
        self.version = 0

    def warm_up(self) -> list[OpResult]:
        # the first cycle costs several times a steady one, and the JIT
        # keeps making the next few cheaper
        return [self.run_op(kind, prep, False, c)
                for c in range(-self.WARM_UP_CYCLES, 0)
                for kind, prep in self.cycle(c)]

    def cycle(self, n: int):
        for kind in self.KINDS:
            yield kind, lambda kind=kind: self._prepare(kind, n)

    def _prepare(self, kind: str, n: int):
        from fluvio_duck_spark import (
            fluvio_consume, fluvio_consume_stream, run_stream_to_parquet)
        from fluvio_duck_spark.operators import snapshots
        from fluvio_duck_spark.options import parse_consume_opts

        if kind == "ingest_create":
            self._new_cycle(n)
        read_back = kind == "ingest_read"
        lo = self.gen.next_offset
        tbl = self.gen.take(self.SEGMENT_RECORDS)
        size = self.lander.land(tbl)
        self.landed_rows += tbl.num_rows
        hi = lo + tbl.num_rows - 1
        flat = self.oracle.load(tbl)
        want_sink = self.oracle.rows(
            f"SELECT count(*), sum(k), sum(veh), sum(speed), min(tst), "
            f"max(tst) FROM {flat}")
        cols = ", ".join(AUDIT_COLS)
        _label, rows, fold = self.oracle.rows(self._checksum_sql(
            f"(SELECT {cols} FROM {flat})", AUDIT_COLS, "seg"))[0]
        want_rows = self.rows + rows
        want_fold = (self.fold + fold) % self._modulus
        commit_opts = (f"events -A --start {lo} --end {hi} "
                       f"--rows {tbl.num_rows} {COMMIT_COLS}")
        spark, tr, root = self.spark, self.tracer, self.root
        first = kind == "ingest_create"

        def run():
            with tr.span("options.parse"):
                parsed = parse_consume_opts(STREAM_OPTS)
            with tr.span("sources.consume.build"):
                stream = fluvio_consume_stream(spark, parsed, sf_dir=self.sf_dir)
            with tr.span("exec.run"), tr.span("streaming.drain"):
                run_stream_to_parquet(stream, self.out, self.chk)
            with tr.span("options.parse"):
                parsed = parse_consume_opts(commit_opts)
            with tr.span("sources.consume.build"):
                df = fluvio_consume(spark, parsed, sf_dir=self.sf_dir)
            with tr.span("exec.run"):
                with tr.span("snapshots.append"):
                    if first:
                        v = snapshots.create_table(spark, root, df, "route",
                                                   AUDIT_COLS)
                    else:
                        v = snapshots.append(spark, root, df)
                read = None
                if read_back:
                    with tr.span("snapshots.read_as_of"):
                        read = snapshots.read_version_as_of(
                            spark, root, v).count()
            return v, read

        def check(result):
            v, read = result
            self.version = v
            self.rows, self.fold = want_rows, want_fold
            audit = snapshots.manifest_audit(root, v)
            return (self._check_sink(want_sink) and audit == (want_rows, want_fold)
                    and (read is None or read == want_rows))

        return run, check, rows, size

    def _check_sink(self, want) -> bool:
        """The new sink files hold exactly the landed segment, and
        nothing landed is left undrained."""
        new = sorted(
            os.path.join(self.out, f) for f in os.listdir(self.out)
            if f.endswith(".parquet") and f not in self.seen_out)
        self.seen_out.update(os.path.basename(f) for f in new)
        self.drained_rows += sum(pq.ParquetFile(f).metadata.num_rows for f in new)
        self.backlog.append(self.landed_rows - self.drained_rows)
        if not new:
            return False
        t = pq.read_table(new, columns=["k", "veh", "speed", "tst"])
        got = [(t.num_rows, int(t.column("k").to_numpy().sum()),
                int(t.column("veh").to_numpy().sum()),
                float(t.column("speed").to_numpy().sum()),
                min(t.column("tst").to_pylist()),
                max(t.column("tst").to_pylist()))]
        return self.backlog[-1] == 0 and same(got, want)

    def storage(self) -> tuple[int, int]:
        files, size = self.retired
        for d in (self.out, self.chk, self.root):
            if os.path.exists(d):
                f, b = _dir_usage(d)
                files, size = files + f, size + b
        return files, size

    def manifest_files(self, version: int) -> int:
        from fluvio_duck_spark.operators import snapshots

        return len(snapshots.load_manifest(self.root, version)["files"])

    def manifest_bytes(self, version: int) -> int:
        return os.path.getsize(
            os.path.join(self.root, "_manifests", f"v{version}.json"))


WORKLOADS = {w.name: w for w in (ConsumeRead, IngestCommit)}
