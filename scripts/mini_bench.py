#!/usr/bin/env python
"""Targeted per-query bench: warm best-of-N timing for NAMED queries.

Usage: python scripts/mini_bench.py <name> [name ...]

Same methodology as bench.py's headline warm numbers (sf0.001 shape
warmup, then noop-sink materialization at $SPARK_GRAFT_SF_DIR via the
bench cache, best-of-3 reruns), so a before/after pair from this tool is
comparable with the committed per-query warm tables.  Prints one JSON
line: {"queries_warm": {...}, "queries_cold": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RERUNS = int(os.environ.get("MINI_BENCH_RERUNS", "3"))


def main() -> None:
    from bench import prep_bench_data
    from fluvio_duck_spark.queries import all_queries
    from fluvio_duck_spark.session import get_spark

    names = sys.argv[1:]
    spark = get_spark("mini-bench")
    specs = all_queries()
    bench_dir = prep_bench_data(spark, SF_DIR)

    spark.range(1000).select("id").write.format("noop").mode("overwrite").save()
    for name in names:  # warm every shape first (codegen compile)
        specs[name].fn(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in names:
        fn = specs[name].fn
        spark.sparkContext.setJobDescription(f"mini-bench cold {name}")
        t0 = time.perf_counter()
        fn(spark, bench_dir).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.perf_counter() - t0, 3)
        reruns = []
        for i in range(RERUNS):
            spark.sparkContext.setJobDescription(f"mini-bench warm {name} #{i}")
            t0 = time.perf_counter()
            fn(spark, bench_dir).write.format("noop").mode("overwrite").save()
            reruns.append(time.perf_counter() - t0)
        warm[name] = round(min(reruns), 3)
    print(json.dumps({"queries_warm": warm, "queries_cold": cold}))


if __name__ == "__main__":
    main()
