#!/usr/bin/env python
"""Dump .explain('formatted') for named queries to plans/<tag>/<name>_<suffix>.txt.

Usage: python scripts/dump_plans.py <tag> <suffix> [query ...]

With no query names, dumps the bench HEADLINE set.  Plans are captured
against the bench cache layout (same as bench.py) so the scan shapes match
what the bench times.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TAG = sys.argv[1]
SUFFIX = sys.argv[2]
NAMES = sys.argv[3:]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from bench import HEADLINE, prep_bench_data
    from fluvio_duck_spark.queries import all_queries
    from fluvio_duck_spark.session import get_spark

    names = NAMES or list(HEADLINE)
    spark = get_spark("dump-plans")
    specs = all_queries()
    bench_dir = prep_bench_data(spark, SF_DIR)

    out_dir = os.path.join(REPO, "plans", TAG)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = specs[name].fn(spark, bench_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{SUFFIX}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
