#!/usr/bin/env python
"""Transport-swap transcript: the same session run over BOTH transports
— the local per-partition log (stand-in) and the loopback record server
(sources/loopback.py, the SPU-shaped second transport) — printing each
result side by side and asserting byte-equality.  This is CONNECTOR.md's
core claim made runnable: everything above the seam is
transport-invariant, so a user switches transports by changing ONE
option.

    1. metadata: fluvio_partitions(log_dir=) vs fluvio_partitions(server=)
    2. per-partition tail (-A -T 3) over log_dir vs server
    3. typed -c mapped view + SQL aggregate over both sources
    4. streaming drain to LEO over both (full DataSourceStreamReader)
    5. filter SmartModule: engine-side chain vs pushed to the server
    6. whole ordered transform chain (filter → jolt shift) pushed to the
       server: bit-identical records, measured wire-byte reduction
    7. aggregate fold (filter → per-partition running sum) pushed to
       the server: the last SmartModule kind across the seam, one
       batch task per partition so no chunk boundary reseeds
    8. the remaining standard kinds — array-map (one record per
       JSON-array element) feeding filter-map (rewrite-or-drop) — pushed
       over an array-payload log: bit-identical element records, and the
       measured nuance that the unnest ALONE inflates the wire while the
       full chain shrinks it

Usage: python scripts/demo_loopback.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def rows(df):
    return sorted(map(tuple, df.collect()))


def main() -> None:
    from pyspark.sql import functions as F

    from fluvio_duck_spark.session import get_spark
    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.loopback import (
        RecordServer,
        translate_sql_filter,
        translate_transform_chain,
    )
    from fluvio_duck_spark.sources.metadata import fluvio_partitions
    from fluvio_duck_spark.sources.pplog import write_pp_log_dir
    from fluvio_duck_spark.streaming.consume_stream import run_stream_to_table

    spark = get_spark("fluvio-duck-loopback-demo", shuffle_partitions=4)
    register_fluvio_source(spark)
    log_dir = write_pp_log_dir(spark, SF_DIR)
    srv = RecordServer(log_dir).start()
    print(f"record server at {srv.address}, serving {log_dir}\n")

    def local(args):
        return (spark.read.format("fluvio")
                .option("log_dir", log_dir).option("args", args).load())

    def served(args, flt=None):
        r = (spark.read.format("fluvio")
             .option("server", srv.address).option("args", args))
        if flt is not None:
            r = r.option("filter", json.dumps(flt))
        return r.load()

    try:
        # 1. metadata
        a = fluvio_partitions(spark, log_dir=log_dir)
        b = fluvio_partitions(spark, server=srv.address)
        a.show()
        assert rows(a) == rows(b)
        print("1. metadata: local == server\n")

        # 2. per-partition tail
        args = "-A -T 3 --rows 1000000"
        a, b = local(args), served(args)
        b.show(6)
        assert rows(a) == rows(b)
        print("2. per-partition tail (-A -T 3): local == server\n")

        # 3. mapped view + SQL aggregate over both sources
        big = "-A -B --rows 1000000000"
        out = {}
        for tag, src in (("local", local(big)), ("server", served(big))):
            mapped = fluvio_consume(
                spark, "events -A -B --rows 1000000000 -c k:i=k",
                sf_dir=SF_DIR, source=src, per_partition_offsets=True,
            )
            mapped.createOrReplaceTempView(f"ev_{tag}")
            out[tag] = rows(spark.sql(
                f"SELECT k % 10 AS route, COUNT(*) AS n, AVG(k) AS avg_k "
                f"FROM ev_{tag} GROUP BY 1"
            ))
        assert out["local"] == out["server"]
        print("3. mapped view + SQL aggregate: local == server\n")

        # 4. streaming drain (full DataSourceStreamReader, one cursor
        #    per partition log) over both transports
        drained = {}
        for tag, opts in (("local", ("log_dir", log_dir)),
                          ("server", ("server", srv.address))):
            df = run_stream_to_table(
                spark.readStream.format("fluvio")
                .option(*opts).option("max_rows_per_batch", "200").load()
                .groupBy("partition").agg(F.count("*").alias("n"),
                                          (F.max("offset") + 1).alias("leo")),
                spark, "complete",
            )
            drained[tag] = rows(df)
        df.show()  # the server drain
        assert drained["local"] == drained["server"]
        print("4. streaming drain to LEO: local == server\n")

        # 5. filter SmartModule: engine-side vs pushed to the server
        where = "cast(get_json_object(value, '$.k') as int) >= 50"
        engine = fluvio_consume(
            spark,
            ["events", "-A", "-T", "40", "--rows", "1000000", "--transform",
             json.dumps({"uses": "sql-filter", "with": {"where": where}})],
            sf_dir=SF_DIR, source=served(big), per_partition_offsets=True,
        ).select("offset", "value")
        pushed = served(
            "-A -T 40 --rows 1000000", flt=translate_sql_filter(where)
        ).select("offset", "value")
        assert rows(engine) == rows(pushed)
        print(f"5. filter SmartModule ({len(rows(pushed))} records): "
              "engine-side == pushed to server\n")

        # 6. the WHOLE ordered chain (filter → jolt shift) pushed to the
        #    server — the reference's SPU-side transform execution
        #    (src/consume.rs:650-673), records rewritten before the
        #    bytes cross the wire
        transforms = [
            {"uses": "sql-filter", "with": {"where": where}},
            {"uses": "infinyon/jolt@0.1.0",
             "with": {"spec": [{"operation": "shift",
                                "spec": {"k": "kk"}}]}},
        ]
        chain = translate_transform_chain(transforms)
        engine = fluvio_consume(
            spark,
            ["events", "-A", "-T", "40", "--rows", "1000000",
             "--transform", json.dumps(transforms[0]),
             "--transform", json.dumps(transforms[1])],
            sf_dir=SF_DIR, source=served(big), per_partition_offsets=True,
        ).select("offset", "value")
        pushed = (spark.read.format("fluvio")
                  .option("server", srv.address)
                  .option("args", "-A -T 40 --rows 1000000")
                  .option("chain", json.dumps(chain))
                  .load().select("offset", "value"))
        pushed.show(3, truncate=False)
        assert rows(engine) == rows(pushed)
        raw_b = sum(len(srv.fetch_ipc(p, 0, None)) for p in range(4))
        push_b = sum(len(srv.fetch_ipc(p, 0, None, None, chain))
                     for p in range(4))
        print(f"6. transform CHAIN ({len(rows(pushed))} records): "
              "engine-side == pushed to server, value text bit-identical; "
              f"whole-log wire bytes {raw_b} -> {push_b} "
              f"({push_b / raw_b:.2f}x)\n")

        # 7. the aggregate kind: per-partition fold (filter → running
        #    sum) pushed to the server — the last SmartModule kind to
        #    cross the seam; the plan pins one task per partition so no
        #    chunk boundary reseeds the accumulator
        transforms = [
            {"uses": "sql-filter", "with": {"where": where}},
            {"uses": "sum-aggregate",
             "with": {"field": "k", "partitioned": "true"}},
        ]
        chain = translate_transform_chain(transforms)
        engine = fluvio_consume(
            spark,
            ["events", "-A", "-T", "40", "--rows", "1000000",
             "--transform", json.dumps(transforms[0]),
             "--transform", json.dumps(transforms[1])],
            sf_dir=SF_DIR, source=served(big), per_partition_offsets=True,
        ).select("offset", "value")
        pushed = (spark.read.format("fluvio")
                  .option("server", srv.address)
                  .option("args", "-A -T 40 --rows 1000000")
                  .option("chain", json.dumps(chain))
                  .load().select("offset", "value"))
        pushed.show(3, truncate=False)
        assert rows(engine) == rows(pushed)
        print(f"7. aggregate FOLD ({len(rows(pushed))} records): "
              "per-partition running sum engine-side == pushed to "
              "server, one task per partition\n")

        # 8. the remaining standard kinds over the ARRAY-payload log:
        #    array-map unnests [{"k":K},{"j":K+1}] into element records,
        #    filter-map keeps only the element carrying "k" and rewrites
        #    it to the extraction — all server-side, behind the same
        #    per-partition tail bound
        from fluvio_duck_spark.sources.loopback import RecordServer
        from fluvio_duck_spark.sources.pplog import write_pp_array_log_dir

        arr_srv = RecordServer(write_pp_array_log_dir(spark, SF_DIR)).start()
        try:
            transforms = [
                {"uses": "sql-array-map", "with": {"path": "$"}},
                {"uses": "sql-filter-map",
                 "with": {"value": "get_json_object(value, '$.k')"}},
            ]
            chain = translate_transform_chain(transforms)
            arr_raw = (spark.read.format("fluvio")
                       .option("server", arr_srv.address)
                       .option("args", "-A -B --rows 1000000").load())
            engine = fluvio_consume(
                spark,
                ["events", "-A", "-T", "40", "--rows", "1000000",
                 "--transform", json.dumps(transforms[0]),
                 "--transform", json.dumps(transforms[1])],
                sf_dir=SF_DIR, source=arr_raw, per_partition_offsets=True,
            ).select("offset", "value")
            pushed = (spark.read.format("fluvio")
                      .option("server", arr_srv.address)
                      .option("args", "-A -T 40 --rows 1000000")
                      .option("chain", json.dumps(chain))
                      .load().select("offset", "value"))
            pushed.show(3, truncate=False)
            assert rows(engine) == rows(pushed)
            unnest_only = translate_transform_chain(
                [{"uses": "sql-array-map", "with": {"path": "$"}}]
            )
            raw_b = sum(len(arr_srv.fetch_ipc(p, 0, None)) for p in range(4))
            fan_b = sum(len(arr_srv.fetch_ipc(p, 0, None, None, unnest_only))
                        for p in range(4))
            push_b = sum(len(arr_srv.fetch_ipc(p, 0, None, None, chain))
                         for p in range(4))
            print(f"8. array-map -> filter-map ({len(rows(pushed))} element "
                  "records): engine-side == pushed to server; whole-log "
                  f"wire bytes raw {raw_b} -> unnest-alone {fan_b} "
                  f"({fan_b / raw_b:.2f}x, fan-OUT) -> full chain {push_b} "
                  f"({push_b / raw_b:.2f}x)\n")
        finally:
            arr_srv.stop()

        print("transport swap verified: every step byte-identical")
    finally:
        srv.stop()


if __name__ == "__main__":
    main()
