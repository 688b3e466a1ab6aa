#!/usr/bin/env python
"""End-to-end event-analytics demo: the warehouse workflow a reference
user runs once a consumed topic lands as a table (reference
``README.md:149-184``'s SQL-over-views workflow), expressed in this
repo's operators.

    events (consumed topic, landed)
      → column profile (trust gate on the new drop)        (1 pass)
      → CDC merge into the per-user state table            (agg + 1 join)
      → sessionization + ordered funnel w/ 24 h windows    (keyed aggs)
      → weekly cohort retention matrix                     (2 shuffles)
      → hourly rollup, gap-filled for dashboards           (spine join)
      → LOCF-filled last-purchase feature + trailing windows
      → rolling-origin backtest folds for the next model

Usage: python scripts/demo_events.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def analyze(spark, sf_dir: str):
    """Run the full event-analytics layer; returns a dict of result
    DataFrames (nothing collected — callers decide what materializes)."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.events import (
        cdc_apply,
        cohort_retention,
        funnel_stages,
    )
    from fluvio_duck_spark.operators.profiling import profile_columns
    from fluvio_duck_spark.operators.sessions import session_stats
    from fluvio_duck_spark.operators.timeseries import calendar_gapfill, locf_fill
    from fluvio_duck_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")

    profile = profile_columns(ev, ["event_id", "ts", "user_id", "event_type", "value"])

    cutoff = F.lit("2024-01-22").cast("timestamp")
    snapshot = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(F.min_by("value", F.struct("ts", "event_id")).alias("value"))
    )
    changes = ev.filter(F.col("ts") >= cutoff).select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert")).alias("op"),
    )
    state = cdc_apply(snapshot, changes, "user_id", "ts", "op", ["value"],
                      tiebreak_col="event_id")

    sessions = session_stats(ev, "user_id", "ts", gap="1 hour",
                             order_tiebreak="event_id")
    funnel = funnel_stages(ev, "user_id", "ts", "event_type",
                           ["view", "click", "purchase"], max_gap="24 hours")
    retention = cohort_retention(ev, "user_id", "ts")
    dashboard = calendar_gapfill(ev, "event_type", "ts", step="1 hour")
    features = locf_fill(
        ev, "user_id", "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")),
        out_col="last_purchase_value", tiebreak_col="event_id",
    )
    return {
        "profile": profile,
        "state": state,
        "sessions": sessions,
        "funnel": funnel,
        "retention": retention,
        "dashboard": dashboard,
        "features": features,
    }


def main() -> None:
    from fluvio_duck_spark.session import get_spark

    spark = get_spark("demo-events")
    out = analyze(spark, SF_DIR)
    print("== column profile ==")
    out["profile"].show(truncate=False)
    print("== funnel (24 h conversion windows) ==")
    out["funnel"].orderBy("stage").show()
    print("== weekly retention ==")
    out["retention"].orderBy("cohort_week", "week_offset").show()
    print("== per-user state table (CDC-merged) ==")
    print("rows:", out["state"].count())
    print("== gap-filled hourly dashboard rollup ==")
    print("buckets:", out["dashboard"].count())
    print("== sessions ==")
    print("sessions:", out["sessions"].count())


if __name__ == "__main__":
    main()
