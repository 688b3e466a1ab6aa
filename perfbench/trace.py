"""Outside-in measurement: spans, Spark status-store deltas, streaming
batch phases and process-tree memory.

Spans are recorded only around calls the benchmark itself makes into
the package; nothing inside the package is changed.  They are held in
memory and summarised when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def host_cpu() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (jiffies)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(cpu0: list[int], cpu1: list[int]) -> float:
    """Share of all CPU time between two :func:`host_cpu` readings that
    the hypervisor gave to other guests instead of this VM."""
    d = [b - a for a, b in zip(cpu0, cpu1)]
    return d[7] / sum(d) if sum(d) else 0.0


class Tracer:
    """In-memory span recorder.  A disabled tracer costs one attribute
    check per span, so the untraced run carries the same call sites."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []  # name, t0, t1
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.spans if n == name)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _tree(root_pid: int):
    """``root_pid`` and its descendants.  A ``java`` child of the JVM is
    a process the JVM is spawning: until it execs, it shares the JVM's
    memory and reports the JVM's RSS and CPU, so it is skipped rather
    than counted twice."""
    stack = [(root_pid, "")]
    while stack:
        pid, parent_exe = stack.pop()
        exe = _exe(pid)
        if exe == "java" and parent_exe == "java":
            continue
        yield pid
        stack.extend((c, exe) for c in _children(pid))


def tree_rss_mb(root_pid: int) -> float:
    """Summed RSS of every descendant of ``root_pid`` (the JVM that
    spark-submit starts and the Python workers it forks), not counting
    ``root_pid`` itself, which holds the benchmark's own inputs."""
    return sum(_rss_kb(p) for p in _tree(root_pid) if p != root_pid) / 1024.0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of ``pid``, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return sum(int(f) for f in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def _jit_ticks(pid: int) -> int:
    """utime + stime of the JIT compiler threads of JVM ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm, fields = stat.split("(", 1)[1].rsplit(")", 1)
        if comm.startswith(("C1 Compiler", "C2 Compiler")):
            fields = fields.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root_pid`` and every descendant, and the part of them spent
    in JVM JIT compiler threads.  Time the hypervisor stole is not in
    either.  The compiler threads must live as long as the JVM
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or the time of one
    that exits would leave the second figure but not the first."""
    total = jit = 0
    for p in _tree(root_pid):
        total += _cpu_ticks(p)
        if _exe(p) == "java":
            jit += _jit_ticks(p)
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


class RssSampler:
    """Background thread sampling :func:`tree_rss_mb` every 0.1 s; keeps
    the peak."""

    PERIOD_S = 0.1

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def jvm_heap_peak_mb(spark) -> float:
    """Peak heap in use since the JVM started: the sum of every heap
    pool's peak usage (eden, survivor, old), as the JVM's own memory
    pool beans report it."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    used = 0
    for i in range(pools.size()):
        pool = pools.get(i)
        if pool.getType().name() == "HEAP":
            used += pool.getPeakUsage().getUsed()
    return used / 2**20


class StageMetrics:
    """Per-op deltas read from Spark's in-process status store (it is
    kept with the UI off).  Stages and jobs are told apart by id, so a
    delta covers every job that finished since the previous call,
    including the ones a streaming query runs on its own thread."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.delta()  # forget what ran before the first op

    def _settle(self) -> None:
        # the status listener runs behind the driver; drain its queue
        self._jsc.listenerBus().waitUntilEmpty()

    def delta(self) -> dict[str, float]:
        self._settle()
        store = self._jsc.statusStore()
        jvm = self.sc._jvm
        quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False, quantiles,
            jvm.java.util.ArrayList(),
        )
        out = {"tasks": 0.0, "run_ms": 0.0, "gc_ms": 0.0, "shuffle_bytes": 0.0}
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages or str(s.status()) != "COMPLETE":
                continue
            self._seen_stages.add(key)
            out["tasks"] += s.numCompleteTasks()
            out["run_ms"] += s.executorRunTime()
            out["gc_ms"] += s.jvmGcTime()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
        jobs = store.jobsList(None)
        new_jobs = 0
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid not in self._seen_jobs:
                self._seen_jobs.add(jid)
                new_jobs += 1
        out["jobs"] = float(new_jobs)
        return out


def make_stream_listener(spark):
    """A ``StreamingQueryListener`` that keeps each micro-batch's phase
    durations (``durationMs``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchPhases(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            row = {k: float(v) for k, v in dict(p.durationMs).items()}
            with self._lock:
                self.batches.append(row)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def take(self) -> list[dict]:
            with self._lock:
                out, self.batches = self.batches, []
            return out

    listener = BatchPhases()
    spark.streams.addListener(listener)
    return listener
