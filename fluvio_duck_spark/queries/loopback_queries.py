"""CONNECTOR.md parity gate, EXECUTED — the same queries over the second
transport.

Round 7 wrote the connector contract (CONNECTOR.md): which seams a
cluster-backed transport replaces, and the acceptance gate — the
existing oracle-paired queries re-run with only the transport swapped.
Until now that gate had never been executed against anything but local
parquet (VERDICT r7 "Next round" #1).  These queries run it: each one
starts the loopback record server (sources/loopback.py) over the
per-partition log fixture, consumes it through ``.option("server",
addr)`` / ``fluvio_partitions(server=...)`` / ``source=``-swap, and is
checked against the SAME DuckDB oracles as its local-transport twin —
so the driver receipt directly certifies "transport swapped, hashes
unchanged".

Parity steps covered (CONNECTOR.md §"Parity test plan"):

* step 2 (offset surface)  → loopback_pp_tail
* step 3 (metadata)        → loopback_partitions_leo
* step 4 (streaming drain) → loopback_stream_parity
  (kill-and-restart replay is tests/test_loopback.py — checkpointed
  restart over the same server, exactly-once counts)
* step 5 (transform chain) → loopback_transform_tail

Scale posture (step 6): the reader's shape is the claim — partition
discovery + LEO are ONE metadata RPC at plan time, each executor task
sends its offset window TO the server and receives only that range
(sources/datasource.py::_FluvioSource.fetch), and results are materialized with
``localCheckpoint`` so the returned DataFrame outlives the server.  The
server itself is a test double for the SPU; its cost is not the
measurement.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluvio_duck_spark.queries import QuerySpec, fluvio_stream
from fluvio_duck_spark.queries.consume_queries import _PP_CTE

QUERIES: dict[str, QuerySpec] = {}


@contextlib.contextmanager
def _server(spark: SparkSession, sf_dir: str):
    """Per-partition log fixture served over the loopback protocol; the
    caller must materialize results before the context closes."""
    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.loopback import RecordServer
    from fluvio_duck_spark.sources.pplog import write_pp_log_dir

    register_fluvio_source(spark)
    srv = RecordServer(write_pp_log_dir(spark, sf_dir)).start()
    try:
        yield srv.address
    finally:
        srv.stop()


def _q_loopback_pp_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTOR.md parity step 2 (offset surface): ``-A -T 3`` through
    the loopback server — partition discovery and per-partition LEO
    arrive over the metadata RPC, each tail window is fetched
    executor-side as a bounded range, and the result must hash-match
    consume_pp_tail's oracle (the local-transport twin).  A connector
    that anchored -T against a global counter, or fetched whole logs
    and filtered client-side, diverges here."""
    with _server(spark, sf_dir) as addr:
        df = (
            spark.read.format("fluvio")
            .option("server", addr)
            .option("args", "-A -T 3 --rows 1000000")
            .load()
            .select("offset", "timestamp", "value")
        )
        return df.localCheckpoint(eager=True)


def _q_loopback_partitions_leo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTOR.md parity step 3 (metadata): ``fluvio_partitions(
    server=...)`` — the per-partition LEOs travel over an actual RPC
    (the ``all::<PartitionSpec>()`` analogue, reference
    src/partition.rs:107-134) and must equal the local footer-derived
    truth for every partition."""
    from fluvio_duck_spark.sources.metadata import fluvio_partitions

    with _server(spark, sf_dir) as addr:
        # createDataFrame over RPC-fetched rows: already driver-local,
        # no server dependency after return
        return fluvio_partitions(spark, server=addr)


def _q_loopback_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTOR.md parity step 4 (streaming): the full
    DataSourceStreamReader over the server transport — per-partition
    cursors advance against RPC-probed LEOs, every fetch is an
    executor-side windowed range read from the server, and the drain
    must reproduce the batch truth per partition (shares
    stream_pp_datasource_parity's oracle)."""
    import os

    from fluvio_duck_spark.sources.loopback import server_parts
    from fluvio_duck_spark.streaming.consume_stream import run_stream_to_table

    with _server(spark, sf_dir) as addr:
        # granule from the RPC-probed LEOs: ~4 fetches per partition at
        # every sf, the stream_pp_* family's sizing rule
        s = fluvio_stream(spark, server_parts(addr).values(), server=addr)
        agg = s.groupBy("partition").agg(
            F.count("*").alias("n"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
            (F.max("offset") + 1).alias("leo"),
        )
        # state partitions sized from the served log's on-disk bytes
        # (the events table the server reads)
        return run_stream_to_table(
            agg, spark, "complete",
            drain_paths=(os.path.join(sf_dir, "events.parquet"),),
        )


def _q_loopback_transform_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTOR.md parity step 5 (transform chain): the option-string
    builder front end with its ordered SmartModule chain (sql-filter →
    jolt shift → typed mappings) applied to a SOURCE read over the
    server transport (``source=``-swap, per-partition offsets).  The
    chain runs engine-side in both transports and must hash-match
    consume_pp_transform_tail's oracle — transforms are above the seam
    and may not change when the transport does."""
    from fluvio_duck_spark.sources.consume import fluvio_consume

    with _server(spark, sf_dir) as addr:
        src = (
            spark.read.format("fluvio")
            .option("server", addr)
            .option("args", "-A -B --rows 1000000")
            .load()
        )
        argv = [
            "events", "-A", "-T", "40", "--rows", "1000000",
            "--transform",
            '{"uses":"sql-filter","with":'
            '{"where":"cast(get_json_object(value, \'$.k\') as int) >= 50"}}',
            "--transform",
            '{"uses":"infinyon/jolt@0.1.0","with":'
            '{"spec":[{"operation":"shift","spec":{"k":"kk"}}]}}',
            "-c", "kk:i=kk", "-c", "kkd:d=kk",
        ]
        out = fluvio_consume(
            spark, argv, sf_dir=sf_dir, source=src,
            per_partition_offsets=True,
        )
        return out.localCheckpoint(eager=True)


def _q_loopback_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTOR.md §5's MAY clause, executed: the filter-kind
    SmartModule pushed to the record server vs run engine-side — the
    two legs must be bit-identical (the one §5 requirement).  The
    ``where`` clause is translated by ``loopback.translate_sql_filter``
    (clauses outside the translatable subset return None and MUST stay
    engine-side); the server applies the filter inside each
    offset-windowed fetch, AFTER the per-partition tail bound resolves
    — the same bounds-before-chain ordering the engine enforces
    (consume_pp_transform_tail), so a pushdown that filtered before
    the tail would shift the row multiset and fail the hash."""
    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.loopback import translate_sql_filter

    where = "cast(get_json_object(value, '$.k') as int) >= 50"
    flt = translate_sql_filter(where)
    assert flt is not None  # the query exists to exercise the pushdown

    def agg(df, leg):
        kk = F.get_json_object("value", "$.k").cast("long")
        return df.agg(
            F.count("*").alias("n"),
            F.sum(kk).alias("sum_kk"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
        ).select(F.lit(leg).alias("leg"), "*")

    import json

    with _server(spark, sf_dir) as addr:
        args = "-A -T 40 --rows 1000000"
        pushed = (
            spark.read.format("fluvio")
            .option("server", addr).option("args", args)
            .option("filter", json.dumps(flt))
            .load()
            .select("offset", "value")
        )
        engine = fluvio_consume(
            spark,
            ["events"] + args.split() + [
                "--transform",
                json.dumps({"uses": "sql-filter", "with": {"where": where}}),
            ],
            sf_dir=sf_dir,
            source=(
                spark.read.format("fluvio")
                .option("server", addr)
                # the raw whole log: -B alone carries the reference
                # CLI's default row budget, which would truncate the
                # source underneath the tail anchor
                .option("args", "-A -B --rows 1000000").load()
            ),
            per_partition_offsets=True,
        ).select("offset", "value")
        out = agg(pushed, "pushed").unionAll(agg(engine, "engine"))
        return out.localCheckpoint(eager=True)


def _q_loopback_transform_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature server-side execution, pushed through
    the executed connector seam (r8 verdict "Next round" #1): the WHOLE
    ordered SmartModule chain — sql-filter THEN jolt shift — translated
    by ``loopback.translate_transform_chain`` and shipped with every
    windowed fetch, so the server (the SPU stand-in) executes it before
    bytes cross the wire (reference src/consume.rs:650-673; the
    examples' real workload is exactly this jolt shift,
    examples/README.md:40-44).  The pushed leg must be bit-identical to
    the engine-side chain, row by row INCLUDING the rewritten value
    text (to_json/get_json_object rendering — the strictest parity this
    repo pins).  Ordering is load-bearing twice over: bounds before
    chain (the per-partition -T 40 window resolves first), and filter
    before shift (the filter reads ``$.k``, which the shift renames to
    ``kk`` — a server that reordered the chain would drop every
    record).  Wire-byte reduction is measured in
    tests/test_loopback.py::test_chain_pushdown_reduces_wire_bytes and
    recorded in SCALE.md."""
    import json

    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.loopback import translate_transform_chain

    transforms = [
        {"uses": "sql-filter",
         "with": {"where":
                  "cast(get_json_object(value, '$.k') as int) >= 50"}},
        {"uses": "infinyon/jolt@0.1.0",
         "with": {"spec": [{"operation": "shift", "spec": {"k": "kk"}}]}},
    ]
    chain = translate_transform_chain(transforms)
    assert chain is not None  # the query exists to exercise the pushdown

    with _server(spark, sf_dir) as addr:
        args = "-A -T 40 --rows 1000000"
        pushed = (
            spark.read.format("fluvio")
            .option("server", addr).option("args", args)
            .option("chain", json.dumps(chain))
            .load()
            .select(F.lit("pushed").alias("leg"), "offset", "value")
        )
        engine = fluvio_consume(
            spark,
            ["events"] + args.split() + [
                "--transform", json.dumps(transforms[0]),
                "--transform", json.dumps(transforms[1]),
            ],
            sf_dir=sf_dir,
            source=(
                spark.read.format("fluvio")
                .option("server", addr)
                .option("args", "-A -B --rows 1000000").load()
            ),
            per_partition_offsets=True,
        ).select(F.lit("engine").alias("leg"), "offset", "value")
        return pushed.unionAll(engine).localCheckpoint(eager=True)


def _q_loopback_chain_prefix_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-split chain pushdown (r9 verdict #6): when one tail link is
    untranslatable, the all-or-nothing translator forfeits the whole wire
    win — but links compose left-to-right, so the translatable HEAD can
    ship server-side and the tail run engine-side over the (already
    filtered and shifted) wire records with identical semantics.  Here
    ``filter(k>=50) → jolt shift(k→kk)`` pushes to the record server and
    the untranslatable ``sql-map concat('v:', …)`` rewrite runs
    engine-side on the survivors; the split leg must be bit-identical to
    the whole chain run engine-side, row by row including the rewritten
    value text.  Wire bytes for the split sit strictly between the
    no-push and full-push bounds
    (tests/test_loopback.py::test_prefix_pushdown_wire_bytes_between_bounds)."""
    import json

    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.loopback import split_translatable_prefix
    from fluvio_duck_spark.transforms import apply_transform_chain, specs_from_links

    transforms = [
        {"uses": "sql-filter",
         "with": {"where":
                  "cast(get_json_object(value, '$.k') as int) >= 50"}},
        {"uses": "infinyon/jolt@0.1.0",
         "with": {"spec": [{"operation": "shift", "spec": {"k": "kk"}}]}},
        {"uses": "sql-map",
         "with": {"value":
                  "concat('v:', get_json_object(value, '$.kk'))"}},
    ]
    chain, tail = split_translatable_prefix(transforms)
    # the query exists to exercise the SPLIT: head pushed, tail engine-side
    assert [op["kind"] for op in chain] == ["filter", "shift"] and len(tail) == 1

    with _server(spark, sf_dir) as addr:
        args = "-A -T 40 --rows 1000000"
        wire = (
            spark.read.format("fluvio")
            .option("server", addr).option("args", args)
            .option("chain", json.dumps(chain))
            .load()
        )
        split_leg = apply_transform_chain(
            wire,
            specs_from_links(tail),  # preserves a dict link's fold seed
        ).select(F.lit("pushed").alias("leg"), "offset", "value")
        engine = fluvio_consume(
            spark,
            ["events"] + args.split() + sum(
                [["--transform", json.dumps(t)] for t in transforms], []
            ),
            sf_dir=sf_dir,
            source=(
                spark.read.format("fluvio")
                .option("server", addr)
                .option("args", "-A -B --rows 1000000").load()
            ),
            per_partition_offsets=True,
        ).select(F.lit("engine").alias("leg"), "offset", "value")
        return split_leg.unionAll(engine).localCheckpoint(eager=True)


def _q_loopback_aggregate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST SmartModule kind crossing the executed connector seam:
    the aggregate fold, pushed server-side behind an ordered sql-filter
    (r8 verdict left it optional — "may stay engine-side" — but the
    per-partition form IS pushable, because the reference's actual
    per-SPU semantics fold each partition log independently,
    src/consume.rs:687-695, and the engine's bounds-before-chain rule
    makes the planned window the fold's exact scope).  Two load-bearing
    plan constraints, both loudly enforced in the reader: the batch plan
    pins ONE task per partition when a fold is pushed (a granule chunk
    boundary would reseed the accumulator mid-log), and the STREAM
    reader refuses the push outright (each micro-batch would reseed).
    The pushed leg must equal the engine leg bit-identically per row
    including the rewritten running-sum text; records whose payload
    fails Spark's try_cast-to-long are skipped by the sum on BOTH sides
    (pinned separately in test_fold_cast_matches_try_cast_long)."""
    import json

    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.loopback import translate_transform_chain

    transforms = [
        {"uses": "sql-filter",
         "with": {"where":
                  "cast(get_json_object(value, '$.k') as int) >= 50"}},
        {"uses": "sum-aggregate",
         "with": {"field": "k", "partitioned": "true"}},
    ]
    chain = translate_transform_chain(transforms)
    assert chain is not None  # the query exists to exercise the pushdown

    with _server(spark, sf_dir) as addr:
        args = "-A -T 40 --rows 1000000"
        pushed = (
            spark.read.format("fluvio")
            .option("server", addr).option("args", args)
            .option("chain", json.dumps(chain))
            .load()
            # offsets repeat across partitions, but each partition's
            # running sum renders a distinct value text, so the
            # (offset, value) multiset still pins every per-partition
            # accumulator (the default projection drops `partition`)
            .select(F.lit("pushed").alias("leg"), "offset", "value")
        )
        engine = fluvio_consume(
            spark,
            ["events"] + args.split() + [
                "--transform", json.dumps(transforms[0]),
                "--transform", json.dumps(transforms[1]),
            ],
            sf_dir=sf_dir,
            source=(
                spark.read.format("fluvio")
                .option("server", addr)
                .option("args", "-A -B --rows 1000000").load()
            ),
            per_partition_offsets=True,
        ).select(F.lit("engine").alias("leg"), "offset", "value")
        return pushed.unionAll(engine).localCheckpoint(eager=True)


@contextlib.contextmanager
def _array_server(spark: SparkSession, sf_dir: str):
    """The ARRAY-PAYLOAD per-partition log (pplog.write_pp_array_log_dir)
    served over the loopback protocol — the array-map kind's natural
    input shape."""
    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.loopback import RecordServer
    from fluvio_duck_spark.sources.pplog import write_pp_array_log_dir

    register_fluvio_source(spark)
    srv = RecordServer(write_pp_array_log_dir(spark, sf_dir)).start()
    try:
        yield srv.address
    finally:
        srv.stop()


def _pushdown_legs(spark, sf_dir, addr, transforms, chain):
    """The shared two-leg shape of every chain-pushdown parity query:
    ``pushed`` ships the translated chain with each windowed fetch,
    ``engine`` consumes the raw log and runs the SAME chain as
    DataFrame transforms — both behind the identical per-partition tail
    bound (bounds-before-chain on both sides)."""
    import json

    from fluvio_duck_spark.sources.consume import fluvio_consume

    args = "-A -T 40 --rows 1000000"
    pushed = (
        spark.read.format("fluvio")
        .option("server", addr).option("args", args)
        .option("chain", json.dumps(chain))
        .load()
        .select(F.lit("pushed").alias("leg"), "offset", "value")
    )
    engine = fluvio_consume(
        spark,
        ["events"] + args.split() + sum(
            [["--transform", json.dumps(t)] for t in transforms], []
        ),
        sf_dir=sf_dir,
        source=(
            spark.read.format("fluvio")
            .option("server", addr)
            .option("args", "-A -B --rows 1000000").load()
        ),
        per_partition_offsets=True,
    ).select(F.lit("engine").alias("leg"), "offset", "value")
    return pushed.unionAll(engine).localCheckpoint(eager=True)


def _q_loopback_array_map_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array-map SmartModule kind pushed through the executed
    connector seam: the server unnests each JSON-array payload into one
    record per element BEFORE bytes cross the wire — fluvio's
    ``fn(record) -> Vec<Record>`` kind (shipped opaquely as
    SmartModuleKind::Generic, reference src/consume.rs:713-726).  The
    pushed leg must be bit-identical to the engine-side
    ``array_map_transform``, row by row including each element's
    rendered text (get_json_object's contract: compact objects, Java
    number rendering — the shared extraction mirror).  Bounds before
    chain: the per-partition -T 40 window resolves first, so each tail
    record fans out to exactly two wire records sharing its offset —
    unlike the fold, the op is stateless per record, so granule
    chunking needs no task pinning."""
    from fluvio_duck_spark.sources.loopback import translate_transform_chain

    transforms = [{"uses": "sql-array-map", "with": {"path": "$"}}]
    chain = translate_transform_chain(transforms)
    assert chain is not None  # the query exists to exercise the pushdown

    with _array_server(spark, sf_dir) as addr:
        return _pushdown_legs(spark, sf_dir, addr, transforms, chain)


def _q_loopback_filter_map_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter-map SmartModule kind pushed through the executed
    connector seam, ORDERED AFTER a pushed array-map: the server unnests
    ``[{"k":K},{"j":K+1}]`` into two element records, then the
    filter-map rewrites each to its ``$.k`` extraction and DROPS the
    element where the key is missing (the kind's ``Option<Record>``
    contract — rewrite and survival decided by one module).  In-chain
    ordering is load-bearing: filter-map BEFORE the unnest would drop
    every record (the array payload has no top-level ``k``), so a
    server that reordered the chain fails the hash.  The pushed leg
    must equal the engine-side chain bit-identically per row."""
    from fluvio_duck_spark.sources.loopback import translate_transform_chain

    transforms = [
        {"uses": "sql-array-map", "with": {"path": "$"}},
        {"uses": "sql-filter-map",
         "with": {"value": "get_json_object(value, '$.k')"}},
    ]
    chain = translate_transform_chain(transforms)
    assert chain is not None  # the query exists to exercise the pushdown

    with _array_server(spark, sf_dir) as addr:
        return _pushdown_legs(spark, sf_dir, addr, transforms, chain)


#: tail-40 window over the ARRAY-payload pp log, k extracted — the
#: shared scaffold of the two new pushdown oracles.
_ARR_TAIL_CTE = _PP_CTE + """,
tail AS (
  SELECT "offset",
         CAST(json_extract_string("value", '$.k') AS BIGINT) AS k
  FROM pp
  WHERE "offset" >= leo - 40
)
"""

QUERIES.update({
    "loopback_array_map_pushdown": QuerySpec(
        _q_loopback_array_map_pushdown,
        """
        WITH """ + _ARR_TAIL_CTE + """,
        r AS (
          SELECT "offset", '{"k":' || k || '}' AS "value" FROM tail
          UNION ALL
          SELECT "offset", '{"j":' || (k + 1) || '}' AS "value" FROM tail
        )
        SELECT 'pushed' AS leg, * FROM r
        UNION ALL
        SELECT 'engine' AS leg, * FROM r
        """,
        doc="r9: the array-map SmartModule kind pushed to the record server "
            "== engine-side unnest, bit-identical per element record "
            "including the rendered object text; parent offsets inherited, "
            "bounds-before-chain pinned",
    ),
    "loopback_filter_map_pushdown": QuerySpec(
        _q_loopback_filter_map_pushdown,
        """
        WITH """ + _ARR_TAIL_CTE + """,
        r AS (
          SELECT "offset", CAST(k AS VARCHAR) AS "value" FROM tail
        )
        SELECT 'pushed' AS leg, * FROM r
        UNION ALL
        SELECT 'engine' AS leg, * FROM r
        """,
        doc="r9: the filter-map SmartModule kind pushed to the record server "
            "behind a pushed array-map — rewrite-or-drop decided server-side "
            "per element, in-chain ordering load-bearing, bit-identical legs",
    ),
    "loopback_aggregate_pushdown": QuerySpec(
        _q_loopback_aggregate_pushdown,
        """
        WITH """ + _PP_CTE + """,
        tail AS (
          SELECT "partition", "offset", "value" FROM pp
          WHERE "offset" >= leo - 40
        ),
        f AS (
          SELECT "partition", "offset",
                 CAST(json_extract_string("value", '$.k') AS BIGINT) AS k
          FROM tail
          WHERE CAST(json_extract_string("value", '$.k') AS INTEGER) >= 50
        ),
        r AS (
          SELECT "offset",
                 CAST(SUM(k) OVER (PARTITION BY "partition"
                      ORDER BY "offset"
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS VARCHAR) AS "value"
          FROM f
        )
        SELECT 'pushed' AS leg, * FROM r
        UNION ALL
        SELECT 'engine' AS leg, * FROM r
        """,
        doc="r9: the aggregate-kind SmartModule (per-partition fold) pushed "
            "to the record server behind an ordered filter == engine-side "
            "chain, bit-identical per row including the running-sum text; "
            "the plan pins one task per partition so no chunk boundary can "
            "reseed the accumulator",
    ),
    "loopback_chain_prefix_pushdown": QuerySpec(
        _q_loopback_chain_prefix_pushdown,
        """
        WITH """ + _PP_CTE + """,
        tail AS (
          SELECT "offset", "value" FROM pp WHERE "offset" >= leo - 40
        ),
        f AS (
          SELECT "offset",
                 'v:' || json_extract_string("value", '$.k') AS "value"
          FROM tail
          WHERE CAST(json_extract_string("value", '$.k') AS INTEGER) >= 50
        )
        SELECT 'pushed' AS leg, * FROM f
        UNION ALL
        SELECT 'engine' AS leg, * FROM f
        """,
        doc="r10: PREFIX-split pushdown — translatable head "
            "(filter -> jolt shift) executes on the record server, the "
            "untranslatable sql-map tail runs engine-side over the wire "
            "records; bit-identical to the whole chain engine-side, wire "
            "bytes between the no-push and full-push bounds",
    ),
    "loopback_transform_pushdown": QuerySpec(
        _q_loopback_transform_pushdown,
        """
        WITH """ + _PP_CTE + """,
        tail AS (
          SELECT "offset", "value" FROM pp WHERE "offset" >= leo - 40
        ),
        f AS (
          SELECT "offset",
                 '{"kk":"' || json_extract_string("value", '$.k') || '"}'
                   AS "value"
          FROM tail
          WHERE CAST(json_extract_string("value", '$.k') AS INTEGER) >= 50
        )
        SELECT 'pushed' AS leg, * FROM f
        UNION ALL
        SELECT 'engine' AS leg, * FROM f
        """,
        doc="r9: the ORDERED transform chain (filter -> jolt shift) pushed "
            "to the record server == engine-side chain, bit-identical per "
            "row including the rewritten value text; bounds-before-chain "
            "and in-chain ordering both pinned",
    ),
    "loopback_filter_pushdown": QuerySpec(
        _q_loopback_filter_pushdown,
        """
        WITH """ + _PP_CTE + """,
        tail AS (
          SELECT "offset", "value",
                 CAST(json_extract_string("value", '$.k') AS INTEGER) AS kk
          FROM pp WHERE "offset" >= leo - 40
        ),
        f AS (SELECT * FROM tail WHERE kk >= 50),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(kk) AS BIGINT) AS sum_kk,
                 MIN("offset") AS min_offset, MAX("offset") AS max_offset
          FROM f)
        SELECT 'pushed' AS leg, * FROM a
        UNION ALL
        SELECT 'engine' AS leg, * FROM a
        """,
        doc="CONNECTOR.md §5 MAY clause executed: filter SmartModule pushed "
            "to the record server == engine-side chain, bit-identical, "
            "bounds-before-chain ordering preserved",
    ),
    "loopback_pp_tail": QuerySpec(
        _q_loopback_pp_tail,
        """
        WITH """ + _PP_CTE + """
        SELECT "offset", "timestamp", "value" FROM pp
        WHERE "offset" >= leo - 3
        """,
        doc="CONNECTOR.md step 2 executed: per-partition tail over the "
            "loopback record server — metadata RPC at plan time, "
            "executor-side windowed fetch, hash-identical to the local "
            "transport",
    ),
    "loopback_partitions_leo": QuerySpec(
        _q_loopback_partitions_leo,
        """
        SELECT 'events' AS topic, CAST(user_id % 4 AS VARCHAR) AS "partition",
               CAST(COUNT(*) AS BIGINT) AS "LEO"
        FROM events GROUP BY 2
        """,
        doc="CONNECTOR.md step 3 executed: fluvio_partitions over the "
            "server's offset RPC — per-partition LEO parity",
    ),
    "loopback_stream_parity": QuerySpec(
        _q_loopback_stream_parity,
        """
        WITH """ + _PP_CTE + """
        SELECT "partition", COUNT(*) AS n, MIN("offset") AS min_offset,
               MAX("offset") AS max_offset, MAX("offset") + 1 AS leo
        FROM pp GROUP BY 1
        """,
        doc="CONNECTOR.md step 4 executed: streaming drain over the server "
            "transport, per-partition cursors + executor-side range fetches",
    ),
    "loopback_transform_tail": QuerySpec(
        _q_loopback_transform_tail,
        """
        WITH """ + _PP_CTE + """
        SELECT CAST(json_extract_string("value", '$.k') AS INTEGER) AS kk,
               CAST(json_extract_string("value", '$.k') AS DOUBLE) AS kkd
        FROM pp
        WHERE "offset" >= leo - 40
          AND CAST(json_extract_string("value", '$.k') AS INTEGER) >= 50
        """,
        doc="CONNECTOR.md step 5 executed: ordered transform chain over a "
            "server-transport source — transforms live above the seam",
    ),
})
