#!/usr/bin/env python
"""Profile the Structured-Streaming lifecycle floor (guide §1.1).

Runs a representative bounded drain (tumbling-window complete-mode agg,
the stream_tumbling_windows shape) N times and reports where the wall
time goes:

* construct     — building the streaming DataFrame (driver only)
* drain         — ``drain()``: writeStream.start() (query thread launch,
                  checkpoint dir creation, source init) plus the
                  micro-batch execution up to termination
* read          — spark.table() of the memory sink
* per-batch durationMs breakdown from StreamingQueryProgress
  (addBatch / getBatch / latestOffset / queryPlanning / walCommit /
  commitOffsets / triggerExecution)

Usage: python scripts/profile_stream.py [reps]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import os

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from bench import prep_bench_data
    from fluvio_duck_spark.session import get_spark
    from fluvio_duck_spark.streaming.consume_stream import (
        drain,
        record_log_stream,
    )
    from fluvio_duck_spark.streaming.windows import tumbling_window_agg

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark("profile-stream")
    bench_dir = prep_bench_data(spark, SF_DIR)

    for rep in range(reps):
        t0 = time.perf_counter()
        stream = record_log_stream(spark, bench_dir)
        agg = tumbling_window_agg(stream, window="6 hours", watermark="12 hours")
        t_construct = time.perf_counter() - t0

        name = f"prof_stream_{rep}"
        t0 = time.perf_counter()
        q = drain(
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name),
            spark,
            (os.path.join(bench_dir, "events.parquet"),),
        )
        t_drain = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark.table(name).write.format("noop").mode("overwrite").save()
        t_read = time.perf_counter() - t0

        batches = []
        for p in q.recentProgress:
            so = [
                {
                    k: s.get(k)
                    for k in (
                        "operatorName",
                        "commitTimeMs",
                        "stateOnCurrentVersionSizeBytes",
                        "numStateStoreInstances",
                        "allUpdatesTimeMs",
                        "allRemovalsTimeMs",
                    )
                }
                for s in p.get("stateOperators", [])
            ]
            batches.append(
                {
                    "batchId": p["batchId"],
                    "numInputRows": p["numInputRows"],
                    "durationMs": p["durationMs"],
                    "stateOperators": so,
                }
            )
        print(
            json.dumps(
                {
                    "rep": rep,
                    "construct": round(t_construct, 3),
                    "drain": round(t_drain, 3),
                    "read": round(t_read, 3),
                    "total": round(
                        t_construct + t_drain + t_read, 3
                    ),
                    "batches": batches,
                },
                indent=1,
            )
        )


if __name__ == "__main__":
    main()
