#!/usr/bin/env python
"""Generate a local sf1-scale fixture (10× sf0.1) for scaling measurement.

The driver ships sf0.001/0.01/0.1; SCALE.md's measured-scaling table needs
one more decade to separate fixed per-job overhead from data cost for the
queries whose sf0.1 numbers are overhead-dominated (VERDICT r2 #8).  sf1
is synthesized by unioning 10 key-shifted replicas of sf0.1:

* every id/key column shifts by ``i * 10^ceil(log10(max_key + 1))`` per
  replica, with FK families (orderkey, custkey, partkey, suppkey) shifted
  by the SAME constant on both sides, so referential integrity and join
  selectivities are preserved while key ranges stay small enough that the
  repo's multiplicative-hash expressions (``(id+1) * 2654435761``) cannot
  overflow ANSI BIGINT;
* value/timestamp columns are left untouched (10× density per time
  bucket — what organic 10× growth looks like for an events table);
* nation/region stay fixed (TPC-H dims don't scale).

Output: <checkout>/.bench_data/sf1/<table>.parquet — 8 files per big
table so scans parallelize (same layout convention as the bench cache).
Idempotent via an mtime-keyed marker.  ~7 M lineitem rows, ~1 M events.

Usage: python scripts/gen_sf1.py
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = os.path.join(sys.path[0], ".bench_data", "sf1")
REPLICAS = 10

#: table -> list of (column, fk_family); families share one shift constant.
SHIFTED = {
    "lineitem": [("l_orderkey", "order"), ("l_partkey", "part"),
                 ("l_suppkey", "supp")],
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "customer": [("c_custkey", "cust")],
    "part": [("p_partkey", "part")],
    "supplier": [("s_suppkey", "supp")],
    "events": [("event_id", "event"), ("user_id", "user")],
    "documents": [("doc_id", "doc")],
    # vec_id IS doc_id (llm.py joins embeddings.vec_id AS doc_id), so
    # embeddings shifts with the SAME "doc" family constant — two
    # independently-derived shifts would silently break the
    # embeddings<->documents link the moment the fixture maxes land in
    # different decades (ADVICE r3).
    "embeddings": [("vec_id", "doc")],
}
COPIED = ["nation", "region"]

#: family -> (table, column) sources; the shift derives from the max
#: across ALL of a family's sources, so every member stays collision-free
FAMILY_SOURCE = {
    "order": [("orders", "o_orderkey")],
    "cust": [("customer", "c_custkey")],
    "part": [("part", "p_partkey")],
    "supp": [("supplier", "s_suppkey")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
    "doc": [("documents", "doc_id"), ("embeddings", "vec_id")],
}


def main() -> None:
    from pyspark.sql import functions as F

    from fluvio_duck_spark.session import get_spark

    key = "|".join(
        f"{t}:{os.path.getmtime(os.path.join(SRC, t + '.parquet')):.0f}"
        for t in sorted(SHIFTED) + COPIED
    )
    marker = os.path.join(DST, "_READY")
    if os.path.exists(marker) and open(marker).read() == key:
        print(f"sf1 fixture up to date at {DST}")
        return

    spark = get_spark("gen-sf1")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    shifts: dict[str, int] = {}
    for fam, sources in FAMILY_SOURCE.items():
        mx = max(
            spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
            .agg(F.max(c)).collect()[0][0]
            for t, c in sources
        )
        if fam == "event":
            # event_id IS the consume stand-in's offset, and a real
            # partition log is DENSE 0..LEO-1 — the offset algebra
            # (-H/-T/--rows windows) is only row-faithful on a dense
            # sequence.  event_id has no FK partner, so it shifts by
            # exactly max+1: replicas tile 0..10·LEO-1 with no gaps.
            # (A power-of-10 shift left 9·LEO-row holes per replica;
            # consume_infer_typed's sf1 receipt caught the truncation.)
            shifts[fam] = mx + 1
        else:
            shifts[fam] = 10 ** math.ceil(math.log10(mx + 2))
    print("shift constants:", shifts)

    for t in COPIED:
        df = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(DST, f"{t}.parquet")
        )

    for t, cols in SHIFTED.items():
        df = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        rep = df.crossJoin(
            spark.range(REPLICAS).select(F.col("id").alias("__i"))
        )
        for c, fam in cols:
            rep = rep.withColumn(
                c, F.col(c) + F.col("__i") * F.lit(shifts[fam])
            )
        out = rep.drop("__i").repartition(8)
        out.write.mode("overwrite").option(
            "parquet.block.size", str(8 << 20)
        ).parquet(os.path.join(DST, f"{t}.parquet"))
        print(f"{t}: written")

    with open(marker, "w") as fh:
        fh.write(key)
    print(f"sf1 fixture ready at {DST}")


if __name__ == "__main__":
    main()
