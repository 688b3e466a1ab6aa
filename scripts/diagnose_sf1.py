#!/usr/bin/env python
"""Diagnose an sf1 scaling anomaly: run ONE query warm with the Spark
event log enabled, then summarize per-stage task time, GC, spill, and
shuffle bytes from the log (guide §7.1's stage table, reconstructed
without the UI).

Usage: SPARK_GRAFT_CPUS=32 python scripts/diagnose_sf1.py <query>
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1_DIR = os.environ.get("SF1_DIR", os.path.join(sys.path[0], ".bench_data", "sf1"))
LOG_DIR = "/tmp/spark-events-diag"


def main() -> None:
    from fluvio_duck_spark.queries import all_queries
    from fluvio_duck_spark.session import get_spark

    name = sys.argv[1]
    import shutil

    shutil.rmtree(LOG_DIR, ignore_errors=True)
    os.makedirs(LOG_DIR, exist_ok=True)
    spark = get_spark(
        "diagnose-sf1",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{LOG_DIR}",
        },
    )
    specs = all_queries()
    fn = specs[name].fn
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()
    t0 = time.perf_counter()
    fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    spark.stop()

    stages = {}
    logs = [
        p
        for p in glob.glob(LOG_DIR + "/**/*", recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    def _open_lines(p):
        if p.endswith(".zstd"):
            import subprocess

            out = subprocess.run(
                ["zstd", "-dc", p], capture_output=True, check=True
            )
            yield from out.stdout.decode("utf-8").splitlines()
        else:
            yield from open(p)

    lines = (line for p in logs for line in _open_lines(p))
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        if ev.get("Event") == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            s = stages.setdefault(
                sid,
                dict(n=0, run=0, gc=0, spillm=0, spilld=0, sr=0, sw=0,
                     cpu=0, fetch=0, maxrun=0),
            )
            s["n"] += 1
            rt = m.get("Executor Run Time", 0)
            s["run"] += rt
            s["maxrun"] = max(s["maxrun"], rt)
            s["cpu"] += m.get("Executor CPU Time", 0) // 1_000_000
            s["gc"] += m.get("JVM GC Time", 0)
            s["spillm"] += m.get("Memory Bytes Spilled", 0)
            s["spilld"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s["sr"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            s["fetch"] += sr.get("Fetch Wait Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            s["sw"] += sw.get("Shuffle Bytes Written", 0)

    print(f"\n== {name} wall {wall:.1f}s (warm run incl. sf1) ==")
    print(
        f"{'stage':>6} {'tasks':>5} {'run_s':>8} {'cpu_s':>8} {'gc_s':>7} "
        f"{'spill_mb':>9} {'shuf_r_mb':>9} {'shuf_w_mb':>9} {'max_task_s':>10}"
    )
    for sid in sorted(stages, key=lambda x: -stages[x]["run"])[:14]:
        s = stages[sid]
        print(
            f"{sid:>6} {s['n']:>5} {s['run']/1e3:>8.1f} {s['cpu']/1e3:>8.1f} "
            f"{s['gc']/1e3:>7.1f} {s['spilld']/1e6:>9.0f} {s['sr']/1e6:>9.0f} "
            f"{s['sw']/1e6:>9.0f} {s['maxrun']/1e3:>10.1f}"
        )
    tot = lambda k: sum(s[k] for s in stages.values())
    print(
        f"TOTAL run {tot('run')/1e3:.1f}s cpu {tot('cpu')/1e3:.1f}s "
        f"gc {tot('gc')/1e3:.1f}s spill_disk {tot('spilld')/1e6:.0f}MB "
        f"shuffle_r {tot('sr')/1e6:.0f}MB fetch_wait {tot('fetch')/1e3:.1f}s"
    )


if __name__ == "__main__":
    main()
