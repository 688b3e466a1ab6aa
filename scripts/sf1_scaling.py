#!/usr/bin/env python
"""sf1 core-count scaling A/B (VERDICT r13 "Next round" #1).

Times NAMED queries at the sf1 fixture (`.bench_data/sf1`, read
directly — never through bench.prep_bench_data, whose cache key would
try to rewrite the sf1 dir onto itself) under the CURRENT
$SPARK_GRAFT_CPUS, warm best-of-N after an sf0.001 shape warmup.  Run
it once with SPARK_GRAFT_CPUS=8 and once with 32; the ratio per query
is the parallel-scaling evidence sf0.1 cannot provide (every headline
query there is fixed-overhead-bound).

Usage: SPARK_GRAFT_CPUS=8 python scripts/sf1_scaling.py <name> [...]
Prints one JSON line: {"cpus": N, "queries_warm": {...}, "queries_cold": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1_DIR = os.environ.get("SF1_DIR", os.path.join(sys.path[0], ".bench_data", "sf1"))
RERUNS = int(os.environ.get("SF1_RERUNS", "2"))


def main() -> None:
    from fluvio_duck_spark.queries import all_queries
    from fluvio_duck_spark.session import get_spark

    names = sys.argv[1:]
    spark = get_spark("sf1-scaling")
    specs = all_queries()

    spark.range(1000).select("id").write.format("noop").mode("overwrite").save()
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in names:
        fn = specs[name].fn
        # shape warmup (codegen compile) at sf0.001
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        spark.sparkContext.setJobDescription(f"sf1 cold {name}")
        t0 = time.perf_counter()
        fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.perf_counter() - t0, 3)
        reruns = []
        for i in range(RERUNS):
            spark.sparkContext.setJobDescription(f"sf1 warm {name} #{i}")
            t0 = time.perf_counter()
            fn(spark, SF1_DIR).write.format("noop").mode("overwrite").save()
            reruns.append(time.perf_counter() - t0)
        warm[name] = round(min(reruns), 3)
        print(f"# {name}: cold {cold[name]} warm {warm[name]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                "queries_warm": warm,
                "queries_cold": cold,
            }
        )
    )


if __name__ == "__main__":
    main()
