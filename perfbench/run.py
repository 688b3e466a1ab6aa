"""Benchmark entry point.

    python3 perfbench/run.py --workload consume_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It generates the workload's inputs
from ``--seed`` under ``.perfbench/`` (removed at exit), starts one
Spark session pinned to the cores this process may use, warms up at
full input size, then runs whole op cycles until ``--seconds`` have
passed.  Every result is checked.  The last line of stdout is one JSON
object::

    {"correct": true, "attempted": 16, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a separate traced run.  DESIGN.md lists them all.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: Driver heap (512 MiB per task thread on 4 cores).  Fixed and
#: pre-touched, so the heap's resident size is exactly HEAP_MB and does
#: not depend on when the collector chose to grow it; ``peak_mem_mb``
#: counts the heap the program used in its place.
HEAP_MB = 2048
HEAP = f"{HEAP_MB}m"


def _args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["consume_read", "ingest_commit"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def _prepare_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the run
    directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    import tempfile

    tempfile.tempdir = tmp


def start_session(run_dir: str, cores: int):
    from fluvio_duck_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                "-XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def log_cycle(n: int, ops, steal: float) -> None:
    """One stderr line per cycle: its wall and CPU cost, so a trend
    across cycles shows, and the share of CPU time the host stole from
    this VM meanwhile (the main source of run-to-run noise)."""
    secs = sum(o.seconds for o in ops)
    records = sum(o.records for o in ops)
    cpu = sum(o.cpu_s for o in ops)
    jit = sum(o.jit_s for o in ops)
    print(f"perfbench: cycle {n}: {len(ops)} ops in {secs:.3f} s, "
          f"{records / secs:.1f} records/s, "
          f"{(cpu - jit) * 1e6 / records:.2f} cpu ms/krecord "
          f"(JIT {jit / cpu:.3f} of all cpu), host steal {steal:.3f}",
          file=sys.stderr)


def end_to_end(ops, setup_s: float, mem_mb: float) -> dict:
    from workloads import summarize

    return {
        "cpu_ms_per_krecord": (summarize(ops)["cpu_ms_per_krecord"], "ms"),
        "setup_s": (setup_s, "s"),
        "peak_mem_mb": (mem_mb, "MB"),
        "ok_op_ratio": (sum(o.ok for o in ops) / len(ops), "ratio"),
    }


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(REPO, "fluvio_duck_spark")):
        print("perfbench: the fluvio_duck_spark package is not next to "
              "perfbench/; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)

    from layers import Instrumentation, per_layer
    from trace import (RssSampler, Tracer, host_cpu, jvm_heap_peak_mb,
                       steal_share, tree_cpu_s)
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        REPO, ".perfbench", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = wl = None
    try:
        _prepare_env(run_dir)
        wl = WORKLOADS[args.workload](run_dir, REPO, args.seed)
        wl.generate()  # untimed, and outside setup_s
        tracer = Tracer(enabled=False)
        with RssSampler() as rss:
            cpu_start = tree_cpu_s(os.getpid())[0]
            spark = start_session(run_dir, cores)
            wl.bind(spark, tracer)
            # set-up cost in CPU seconds: session start plus the warm-up
            # ops themselves (not the benchmark's input staging and result
            # checks between them); stolen time is not in it
            setup_s = tree_cpu_s(os.getpid())[0] - cpu_start
            warm = wl.warm_up()
            setup_s += sum(o.cpu_s for o in warm)

            inst = Instrumentation(spark, wl, tracer, cores) if args.trace else None
            ops = []
            start = time.perf_counter()
            n = 0
            # whole cycles; a traced run needs one plain cycle as well
            while n < 1 + args.trace or time.perf_counter() - start < args.seconds:
                traced = bool(args.trace) and n % 2 == 0
                if inst:
                    inst.set_traced(traced)
                cpu0 = host_cpu()
                for kind, prep in wl.cycle(n):
                    op = wl.run_op(kind, prep, traced, n)
                    if inst and traced:
                        inst.after_op(op)
                    ops.append(op)
                log_cycle(n, [o for o in ops if o.cycle == n],
                          steal_share(cpu0, host_cpu()))
                n += 1
            checked = warm + ops
            if inst:
                inst.set_traced(False)
                extra = inst.single_thread_baseline(start_session, run_dir, ops)
                spark = inst.spark
                checked += extra["ops"]
            # the pre-touched heap is resident in full; count the part in use
            heap_mb = jvm_heap_peak_mb(spark)
            mem_mb = rss.peak_mb - HEAP_MB + heap_mb
            print(f"perfbench: peak heap used {heap_mb:.1f} MB, peak resident "
                  f"outside the heap {rss.peak_mb - HEAP_MB:.1f} MB",
                  file=sys.stderr)
        failed = sum(not o.ok for o in checked)
        if args.trace:
            metrics = per_layer(ops, wl, inst, extra)
        else:
            metrics = end_to_end(ops, setup_s, mem_mb)
        result = {
            "correct": failed == 0,
            "attempted": len(checked),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
