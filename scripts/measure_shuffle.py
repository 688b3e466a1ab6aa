#!/usr/bin/env python
"""Measure ACTUAL shuffle volume per query from executed-plan SQL
metrics (shuffleBytesWritten / shuffleRecordsWritten summed over every
Exchange, AQE stages included) — the empirical check on SCALE.md's
plan-shape table: a query claimed to shuffle "partial-agg states, never
raw rows" should show bytes orders of magnitude below its input.

Usage: python scripts/measure_shuffle.py [sf_dir] [query ...]
Prints SCALE.md-ready markdown rows.

``--all-jobs`` (first arg after sf_dir) switches to the status-store
delta: total shuffle write bytes/records across EVERY job the query
runs — including the physical write jobs inside the layout family
(compaction apply, z-order refresh, sidecar writes), which the
executed-plan walk of the RETURNED frame alone cannot see.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def shuffle_totals(df) -> dict:
    """Execute df's own QueryExecution and sum shuffle metrics across
    the final adaptive plan (query stages included)."""
    df.collect()
    tot = {"bytes": 0, "records": 0, "exchanges": 0}

    def walk(node):
        name = node.nodeName()
        if name == "Exchange":
            tot["exchanges"] += 1
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            k, v = kv._1(), kv._2().value()
            if k == "shuffleBytesWritten":
                tot["bytes"] += v
            elif k == "shuffleRecordsWritten":
                tot["records"] += v
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        try:
            if "QueryStage" in name:
                walk(node.plan())
        except Exception:
            pass
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return tot


def _stage_totals(spark) -> dict:
    """Cumulative shuffle-write totals over every stage the app has run,
    from the status REST API (requires spark.ui.enabled) — covers write
    jobs, sidecar stats jobs, and the returned frame alike."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages?status=complete"
    ) as resp:
        stages = _json.load(resp)
    return {
        "bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "records": sum(s.get("shuffleWriteRecords", 0) for s in stages),
        "stages": len(stages),
    }


def all_jobs_totals(spark, fn, sf_dir: str) -> dict:
    """Run a registry query end-to-end (all its jobs + a collect of the
    returned frame) and return the status-store shuffle delta."""
    before = _stage_totals(spark)
    fn(spark, sf_dir).collect()
    after = _stage_totals(spark)
    return {
        "bytes": after["bytes"] - before["bytes"],
        "records": after["records"] - before["records"],
        "stages": after["stages"] - before["stages"],
    }


def fmt_bytes(b: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if b < 1024:
            return f"{b:.0f} {unit}" if unit == "B" else f"{b:.1f} {unit}"
        b /= 1024
    return f"{b:.1f} TB"


def main() -> None:
    from fluvio_duck_spark.queries import all_queries
    from fluvio_duck_spark.session import get_spark

    args = sys.argv[2:]
    spark = get_spark(
        "measure-shuffle",
        extra_conf=(
            {"spark.ui.enabled": "true"}
            if args and args[0] == "--all-jobs" else None
        ),
    )
    specs = all_queries()
    if args and args[0] == "--all-jobs":
        for name in args[1:]:
            t = all_jobs_totals(spark, specs[name].fn, SF_DIR)
            print(
                f"| {name} | {t['records']:,} | {fmt_bytes(t['bytes'])} |",
                flush=True,
            )
        return
    names = args or [
        "consume_mapped_typed", "agg_pricing_summary", "join_revenue_by_nation",
        "join_asof", "window_topk_per_customer", "topk_orders",
        "dedup_minhash_lsh", "text_fingerprint_winnow", "sim_topk_bruteforce",
        "join_large_orders", "rollup_hist_percentiles", "consume_sql_avg_by_route",
        "sim_topk_batch", "join_session_error_overlap", "funnel_conversion",
        "cdc_apply_latest", "sim_group_centroids", "curate_source_cap",
        "dedup_edit_distance", "drift_psi_by_type",
    ]
    for name in names:
        df = specs[name].fn(spark, SF_DIR)
        t = shuffle_totals(df)
        print(
            f"| {name} | {t['exchanges']} | {t['records']:,} "
            f"| {fmt_bytes(t['bytes'])} |"
        )


if __name__ == "__main__":
    main()
