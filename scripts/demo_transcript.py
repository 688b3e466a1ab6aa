#!/usr/bin/env python
"""Fidelity transcript: replay the reference's README session shapes
(reference README.md:52-205) end-to-end on the events stand-in —
the integration demo a fluvio-duck user would run to validate switching.

    1. SELECT * FROM fluvio_topics()                      (README.md:60-66)
    2. SELECT * FROM fluvio_partitions()                  (README.md:67-72)
    3. SELECT sum(LEO) FROM fluvio_partitions()           (README.md:73-83)
    4. last-5 records, default schema (-T 5)              (README.md:97-110)
    5. CREATE VIEW + typed -c column mappings             (README.md:152-167)
    6. SELECT avg(speed) ... GROUP BY route over the view (README.md:171-184)
    7. COPY (...) TO 'transit.parquet'                    (README.md:188-205)

Usage: python scripts/demo_transcript.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    from pyspark.sql import functions as F

    from fluvio_duck_spark import (
        copy_to_parquet,
        fluvio_consume,
        fluvio_partitions,
        fluvio_topics,
        get_spark,
        register_view,
    )

    spark = get_spark("fluvio-duck-spark-demo", shuffle_partitions=4)

    print("== fluvio_topics()")
    fluvio_topics(spark, SF_DIR).show()

    print("== fluvio_partitions()")
    fluvio_partitions(spark, SF_DIR).orderBy("topic", "partition").show(8)

    print("== sum(LEO)")
    fluvio_partitions(spark, SF_DIR).agg(F.sum("LEO").alias("sum_leo")).show()

    print("== last 5 records, default schema (fluvio_consume('events -A -T 5'))")
    fluvio_consume(spark, "events -A -T 5", sf_dir=SF_DIR).show(truncate=40)

    print("== CREATE VIEW transit AS SELECT * FROM fluvio_consume('... -c ...')")
    view = fluvio_consume(
        spark,
        "events -A -B --rows 1000000 -c route:i=k -c speed:d=k",
        sf_dir=SF_DIR,
    )
    register_view(view, "transit")
    spark.sql("SELECT * FROM transit LIMIT 5").show()

    print("== SELECT route%10, avg(speed) FROM transit GROUP BY 1")
    spark.sql(
        "SELECT route % 10 AS route, round(avg(speed), 2) AS avg_speed, count(*) AS n "
        "FROM transit GROUP BY 1 ORDER BY 1"
    ).show()

    with tempfile.TemporaryDirectory() as tmp:
        out = f"{tmp}/transit.parquet"
        print(f"== COPY (SELECT * FROM transit) TO '{out}'")
        copy_to_parquet(view, out)
        n = spark.read.parquet(out).count()
        print(f"   wrote + re-read {n} rows OK")

    print("\ntranscript complete")


if __name__ == "__main__":
    main()
