#!/usr/bin/env python
"""Head-to-head: Spark query vs its DuckDB oracle, across the decade.

The reference delegates ALL relational processing to its host engine
(DuckDB), so "matches-or-beats the reference's single-node throughput"
means measuring against DuckDB itself.  At toy scale that comparison is
dominated by Spark's fixed per-job cost (~0.2-1 s of task scheduling and
codegen against a 60 MB input DuckDB reads from page cache in
milliseconds) — so this script reports BOTH the absolute times AND the
MARGINAL data cost per decade (t(sf1) − t(sf0.1), the slope that
extrapolates to 100 TB, where the fixed cost is amortized and the
comparison is throughput against throughput).

Both engines get all cores; both are warmed; best-of-3 per cell.

Usage: python scripts/bench_vs_duckdb.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(sys.path[0], ".bench_data", "sf1")

DEFAULT = [
    "agg_pricing_summary", "join_revenue_by_nation", "join_asof",
    "rollup_hist_percentiles", "window_topk_per_customer",
    "consume_mapped_typed", "text_pii_redact", "sim_topk_bruteforce",
    "join_large_orders", "join_session_error_overlap",
]

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def duck_connect(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src})")
    return con


def best3(fn) -> float:
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return min(ts)


def main() -> None:
    from fluvio_duck_spark.queries import all_queries
    from fluvio_duck_spark.session import get_spark

    names = sys.argv[1:] or DEFAULT
    qs = all_queries()
    spark = get_spark("bench-vs-duckdb")

    rows = {}
    for sf_label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
        if not os.path.exists(sf_dir):
            sys.exit(f"{sf_dir} missing — run scripts/gen_sf1.py first")
        con = duck_connect(sf_dir)
        for n in names:
            spec = qs[n]
            if not spec.oracle:
                continue
            spec.fn(spark, sf_dir).write.format("noop").mode(
                "overwrite").save()  # warm codegen
            s = best3(lambda: spec.fn(spark, sf_dir).write.format(
                "noop").mode("overwrite").save())
            con.execute(spec.oracle).fetchall()  # warm page cache
            d = best3(lambda: con.execute(spec.oracle).fetchall())
            rows.setdefault(n, {})[sf_label] = (s, d)

    print("\n| query | spark sf0.1 | duck sf0.1 | spark sf1 | duck sf1 "
          "| spark Δ/decade | duck Δ/decade |")
    print("|---|---|---|---|---|---|---|")
    for n, r in rows.items():
        s01, d01 = r["sf0.1"]
        s1, d1 = r["sf1"]
        print(f"| {n} | {s01:.2f} | {d01:.3f} | {s1:.2f} | {d1:.3f} "
              f"| {s1 - s01:+.2f} | {d1 - d01:+.3f} |")


if __name__ == "__main__":
    main()
