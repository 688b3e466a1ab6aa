#!/usr/bin/env python
"""Split each bench query's cost into fn() construction vs noop execution.

Usage: python scripts/profile_construct.py [name ...]   (default: HEADLINE+EXTENDED)

Hot-process methodology: one warmup construction+run of every named query
at sf0.001 first (codegen + lazy imports), then per query at
$SPARK_GRAFT_SF_DIR: construct_sec = wall time of fn(spark, dir);
exec_sec = wall time of the noop write.  Prints a sorted table and one
JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from bench import EXTENDED, HEADLINE, prep_bench_data
    from fluvio_duck_spark.queries import all_queries
    from fluvio_duck_spark.session import get_spark

    names = sys.argv[1:] or (HEADLINE + EXTENDED)
    spark = get_spark("profile-construct")
    specs = all_queries()
    bench_dir = prep_bench_data(spark, SF_DIR)

    spark.range(1000).select("id").write.format("noop").mode("overwrite").save()
    for name in names:  # warm shapes + lazy imports
        specs[name].fn(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

    rows = []
    for name in names:
        fn = specs[name].fn
        spark.sparkContext.setJobDescription(f"profile {name}")
        t0 = time.perf_counter()
        df = fn(spark, bench_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rows.append((name, t1 - t0, t2 - t1))

    rows.sort(key=lambda r: -r[1])
    print(f"{'query':40s} {'construct':>10s} {'exec':>10s}")
    for name, c, e in rows:
        print(f"{name:40s} {c:10.3f} {e:10.3f}")
    print(
        json.dumps(
            {
                "construct_total": round(sum(r[1] for r in rows), 3),
                "exec_total": round(sum(r[2] for r in rows), 3),
                "construct": {r[0]: round(r[1], 3) for r in rows},
                "exec": {r[0]: round(r[2], 3) for r in rows},
            }
        )
    )


if __name__ == "__main__":
    main()
