#!/usr/bin/env python
"""Measure warm per-query wall time across scale factors and print
SCALE.md-ready markdown rows.

Usage: python scripts/measure_scaling.py <query> [<query> ...]

One Spark session; each query is warmed once per sf (codegen compile,
parquet footer cache), then the median of 3 timed runs through the noop
sink is reported.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: sf label -> fixture dir.  sf1 is the locally-synthesized 10× decade
#: (scripts/gen_sf1.py) — included when present so the scaling table can
#: separate fixed per-job overhead from data cost (VERDICT r2 #8).
SF_DIRS = [(sf, f"/root/testdata/sf{sf}") for sf in ("0.001", "0.01", "0.1")]
_SF1 = os.path.join(sys.path[0], ".bench_data", "sf1")
if os.path.exists(os.path.join(_SF1, "_READY")):
    SF_DIRS.append(("1", _SF1))


def main() -> None:
    from fluvio_duck_spark.queries import all_queries
    from fluvio_duck_spark.session import get_spark

    names = sys.argv[1:]
    if not names:
        sys.exit("usage: measure_scaling.py <query> [...]")
    spark = get_spark("measure-scaling")
    specs = all_queries()
    rows = {}
    for name in names:
        fn = specs[name].fn
        per_sf = []
        for _sf, sf_dir in SF_DIRS:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            per_sf.append(statistics.median(times))
        rows[name] = per_sf
    print()
    for name, ts in rows.items():
        cells = " | ".join(f"{t:.2f}" for t in ts)
        # slope of the last decade: how much of the last step is data cost
        last = f"{ts[-1] / ts[-2]:.1f}x" if ts[-2] else "-"
        print(f"| {name} | {cells} | {last} |")


if __name__ == "__main__":
    main()
