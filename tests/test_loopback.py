"""Loopback record-server transport (sources/loopback.py): the executed
CONNECTOR.md parity gate — protocol, batch/stream parity with the local
transport, and the kill-and-restart exactly-once replay of §"Parity test
plan" step 4."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from fluvio_duck_spark.sources.datasource import register_fluvio_source
from fluvio_duck_spark.sources.loopback import (
    RecordServer,
    server_fetch,
    server_parts,
)
from fluvio_duck_spark.sources.pplog import write_pp_log_dir

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def log_dir(spark):
    return write_pp_log_dir(spark, SF_DIR)


@pytest.fixture(scope="module")
def server(log_dir):
    srv = RecordServer(log_dir).start()
    yield srv
    srv.stop()


def test_protocol_parts_and_windowed_fetch(server):
    parts = server_parts(server.address)
    assert parts == {0: 273, 1: 232, 2: 289, 3: 206}
    # the window travels TO the server: only the requested range returns
    t = server_fetch(server.address, 2, 5, 8)
    assert t.column_names == ["offset", "timestamp", "value"]
    assert t["offset"].to_pylist() == [5, 6, 7]
    # unbounded hi = the partition's whole log from lo
    t = server_fetch(server.address, 3, 200, None)
    assert t["offset"].to_pylist() == list(range(200, 206))
    # unknown partition reads empty, not an error
    assert server_fetch(server.address, 9, 0, None).num_rows == 0


def test_batch_parity_server_vs_local(spark, server, log_dir):
    """CONNECTOR.md step 2: the same option strings over both transports
    must produce identical row multisets."""
    register_fluvio_source(spark)
    for args in ("-A -T 3 --rows 1000000", "-p 2 -H 5 --end 12 --rows 99999",
                 "-A -B --rows 7", "-p 9 -B"):
        via_server = (
            spark.read.format("fluvio")
            .option("server", server.address).option("args", args).load()
        )
        via_local = (
            spark.read.format("fluvio")
            .option("log_dir", log_dir).option("args", args).load()
        )
        assert sorted(map(tuple, via_server.collect())) == sorted(
            map(tuple, via_local.collect())
        ), args


def test_stream_kill_and_restart_exactly_once(spark, server, tmp_path):
    """CONNECTOR.md step 4's replay clause: kill a checkpointed stream
    mid-drain, restart it against the same server, and the union of both
    runs' sink output must be the log exactly once — per-partition
    offset cursors recover from the checkpoint and re-plan only the
    uncommitted remainder."""
    register_fluvio_source(spark)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start(throttle: str | None, trigger_kwargs):
        reader = (
            spark.readStream.format("fluvio")
            .option("server", server.address)
            .option("max_rows_per_batch", "100")
        )
        if throttle:
            reader = reader.option("throttle_rows_per_trigger", throttle)
        return (
            reader.load()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(**trigger_kwargs).start()
        )

    # run 1: throttled processing-time stream, killed mid-drain
    q1 = start("60", {"processingTime": "50 milliseconds"})
    deadline = time.time() + 60
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        time.sleep(0.2)
    q1.stop()
    q1.awaitTermination()
    n1 = spark.read.parquet(sink).count()
    assert n1 > 0, "first run committed nothing — can't exercise restart"

    # run 2: restart from the checkpoint, unthrottled drain to LEO
    # (processAllAvailable, not availableNow: the Python source's
    # availableNow fallback only re-runs an uncommitted batch on
    # restart, it does not plan new data)
    q2 = start(None, {"processingTime": "50 milliseconds"})
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    out = spark.read.parquet(sink)
    total = sum(server_parts(server.address).values())
    assert out.count() == total  # no loss, no duplication
    assert out.select("partition", "offset").distinct().count() == total
    # each partition drained to its own LEO
    got = {
        r["partition"]: r["mx"]
        for r in out.groupBy("partition").agg(F.max("offset").alias("mx")).collect()
    }
    assert got == {pid: leo - 1 for pid, leo in server_parts(server.address).items()}


def test_stream_throttled_restart_exactly_once_over_server(spark, server, tmp_path):
    """The last cell of the restart matrix (r9 verdict #7): a THROTTLED
    stream killed mid-drain and restarted STILL THROTTLED, over the
    SERVER transport.  The r8 throttle-cursor regression (admitted rows
    re-planned when the throttle cap bisected a partition window) was
    fixed and tested on log_dir (test_streaming.py) and kill/restart on
    the server transport ran unthrottled — this pins the combination:
    throttle cursors recover from the checkpoint against RPC-probed
    LEOs with no loss and no duplication."""
    register_fluvio_source(spark)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.format("fluvio")
            .option("server", server.address)
            .option("max_rows_per_batch", "100")
            .option("throttle_rows_per_trigger", "50")
            .load()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .outputMode("append")
            # slow trigger so the kill lands after a committed batch but
            # long before the throttled drain reaches LEO
            .trigger(processingTime="300 milliseconds").start()
        )

    truth = server_parts(server.address)
    total = sum(truth.values())

    q1 = start()
    deadline = time.time() + 60
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        time.sleep(0.05)
    q1.stop()
    q1.awaitTermination()
    n1 = spark.read.parquet(sink).count()
    assert n1 > 0, "first run committed nothing — can't exercise restart"
    assert n1 < total, "first run drained everything — kill came too late"

    # run 2: restart from the checkpoint, THROTTLE STILL ON
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    out = spark.read.parquet(sink)
    assert out.count() == total  # no loss, no duplication
    assert out.select("partition", "offset").distinct().count() == total
    got = {
        r["partition"]: r["mx"]
        for r in out.groupBy("partition").agg(F.max("offset").alias("mx")).collect()
    }
    assert got == {pid: leo - 1 for pid, leo in truth.items()}


def test_filter_pushdown_translate_and_server_semantics(spark, server, log_dir):
    """CONNECTOR.md §5: the translatable sql-filter subset pushes to the
    server and matches the engine-side filter exactly; untranslatable
    clauses return None (and MUST stay engine-side)."""
    from fluvio_duck_spark.sources.loopback import (
        server_fetch,
        translate_sql_filter,
    )

    flt = translate_sql_filter(
        "cast(get_json_object(value, '$.k') as int) >= 50"
    )
    assert flt == {"path": "$.k", "cast": "int", "op": ">=", "value": 50}
    # untranslatable shapes fall back engine-side
    for bad in ("value like '%x%'",
                "cast(get_json_object(value, '$.k') as int) + 1 >= 50",
                "get_json_object(value, '$.k') is not null"):
        assert translate_sql_filter(bad) is None

    import json

    raw = server_fetch(server.address, 2, 0, 100)
    pushed = server_fetch(server.address, 2, 0, 100, flt=flt)
    want = [
        (o, v) for o, v in zip(raw["offset"].to_pylist(),
                               raw["value"].to_pylist())
        if json.loads(v).get("k") is not None and int(json.loads(v)["k"]) >= 50
    ]
    got = list(zip(pushed["offset"].to_pylist(), pushed["value"].to_pylist()))
    assert got == want and 0 < len(got) < raw.num_rows


def test_server_follows_growing_log(spark, sf_dir, tmp_path):
    """The server's metadata RPC re-reads footer LEO per call, so a
    fragment appended to a served partition log is visible to the next
    PARTS probe and fetchable — the continuous-mode contract holds over
    the second transport too."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = str(tmp_path / "grow_served")
    shutil.copytree(write_pp_log_dir(spark, sf_dir), log_dir)
    srv = RecordServer(log_dir).start()
    try:
        before = server_parts(srv.address)
        leo = before[1]
        pq.write_table(
            pa.table({
                "offset": pa.array(range(leo, leo + 20), pa.int64()),
                "timestamp": pa.array(
                    [1_700_000_000_000_000 + i for i in range(20)],
                    pa.timestamp("us"),
                ),
                "value": pa.array(['{"k": 1}'] * 20),
            }),
            log_dir + "/partition=1/append-0.parquet",
        )
        after = server_parts(srv.address)
        assert after[1] == leo + 20
        assert {p: v for p, v in after.items() if p != 1} == {
            p: v for p, v in before.items() if p != 1
        }
        fetched = server_fetch(srv.address, 1, leo, None)
        assert fetched["offset"].to_pylist() == list(range(leo, leo + 20))
        # the metadata functions see the same RPC truth
        from fluvio_duck_spark.sources.metadata import (
            fluvio_partitions,
            fluvio_topics,
        )

        t = fluvio_topics(spark, server=srv.address).collect()
        assert [(r["name"], r["partitions"]) for r in t] == [("events", 4)]
        p1 = {
            r["partition"]: r["LEO"]
            for r in fluvio_partitions(spark, server=srv.address).collect()
        }
        assert p1["1"] == leo + 20
    finally:
        srv.stop()


def test_produce_then_consume_full_lifecycle(spark, tmp_path):
    """CONNECTOR.md parity step 1, executed: produce the events fixture
    into an EMPTY served topic (per-partition arrival order = event_id
    order, props as value, ts as record timestamp; the SERVER assigns
    dense offsets), then consume it back through the connector surface
    — the result must equal the stand-in derivation exactly.  Closes
    the produce half of the reference lifecycle in-sandbox."""
    import os

    import pyarrow as pa

    from fluvio_duck_spark.sources.consume import read_events
    from fluvio_duck_spark.sources.loopback import server_produce
    from fluvio_duck_spark.sources.pplog import per_partition_log

    topic_dir = str(tmp_path / "produced_topic")
    for pid in range(4):
        os.makedirs(f"{topic_dir}/partition={pid}")
    srv = RecordServer(topic_dir).start()
    try:
        assert server_parts(srv.address) == {0: 0, 1: 0, 2: 0, 3: 0}

        rows = (
            read_events(spark, SF_DIR)
            .selectExpr("event_id", "ts", "user_id % 4 AS pid", "props")
            .orderBy("event_id")
            .collect()
        )
        per = {}
        for r in rows:
            per.setdefault(r.pid, []).append((r.ts, r.props))
        for pid, recs in sorted(per.items()):
            # two batches per partition: the second append must continue
            # the dense sequence where the first ended
            half = len(recs) // 2
            for batch in (recs[:half], recs[half:]):
                tbl = pa.table({
                    "timestamp": pa.array([t for t, _ in batch],
                                          pa.timestamp("us")),
                    "value": pa.array([v for _, v in batch]),
                })
                server_produce(srv.address, pid, tbl)
        assert server_parts(srv.address) == {0: 273, 1: 232, 2: 289, 3: 206}

        register_fluvio_source(spark)
        consumed = (
            spark.read.format("fluvio")
            .option("server", srv.address)
            .option("args", "-A -B --rows 1000000")
            .load()
        )
        got = sorted(map(tuple, consumed.collect()))
        want = sorted(map(tuple, per_partition_log(spark, SF_DIR).collect()))
        assert got == want  # offsets, timestamps, partitions, values — all
    finally:
        srv.stop()


def test_server_framed_errors_and_cast_parity(server):
    """ADVICE r8: server-side failures travel as FRAMED error replies
    (RecordServerError with the real cause), never an opaque
    ConnectionError/ArrowInvalid; and the pushed filter mirrors Spark's
    ANSI cast — a value malformed for the cast RAISES (both legs fail
    identically), it is never silently dropped or truncated."""
    import json

    import pyarrow as pa
    import pytest

    from fluvio_duck_spark.sources.loopback import (
        RecordServerError,
        _apply_server_filter,
        _request,
        server_fetch,
        translate_sql_filter,
    )

    # unknown op → framed error, surfaced with the server's message
    with pytest.raises(RecordServerError, match="unknown op"):
        _request(server.address, {"op": "nope"})
    # malformed filter DSL inside a fetch → framed error, not a closed
    # socket feeding JSON into pa.ipc.open_stream
    with pytest.raises(RecordServerError):
        server_fetch(server.address, 0, 0, 5, flt={"path": "$.k", "cast": "int",
                                                   "op": "@@", "value": 1})
    # int-cast comparison against a fractional literal is NOT translated:
    # int(float('49.5')) would silently change the predicate
    assert translate_sql_filter(
        "cast(get_json_object(value, '$.k') as int) >= 49.5"
    ) is None
    # ...but a double cast carries it fine
    flt_d = translate_sql_filter(
        "cast(get_json_object(value, '$.k') as double) >= 49.5"
    )
    assert flt_d == {"path": "$.k", "cast": "double", "op": ">=", "value": 49.5}

    # ANSI cast parity on a synthetic window: fractional / boolean / bad
    # string values under an int cast RAISE exactly where the engine's
    # cast(get_json_object(...) as int) throws; missing key drops.
    def tbl(*values):
        return pa.table({
            "offset": pa.array(range(len(values)), pa.int64()),
            "timestamp": pa.array([0] * len(values), pa.timestamp("us")),
            "value": pa.array(list(values), pa.string()),
        })

    flt_i = {"path": "$.k", "cast": "int", "op": ">=", "value": 5}
    ok = _apply_server_filter(
        tbl('{"k": 12}', '{"k": "7"}', '{"k": 3}', '{"other": 1}', None,
            'not json'),
        flt_i,
    )
    assert ok["offset"].to_pylist() == [0, 1]
    # Unicode digits, Unicode spaces and '_' separators are malformed
    # under both casts (Python's int()/float() would accept them)
    unicode_bad = ('{"k": "\u0661\u0662"}', '{"k": "\u00a012"}',
                   '{"k": "\u2003\u20037"}', '{"k": "1_0"}')
    # out of range for the cast's width: int32 for int, int64 for bigint
    flt_l = dict(flt_i, cast="bigint")
    assert translate_sql_filter(
        "cast(get_json_object(value, '$.k') as bigint) >= 5"
    ) == flt_l
    assert _apply_server_filter(
        tbl('{"k": "99999999999"}', '{"k": 3}'), flt_l
    )["offset"].to_pylist() == [0]
    for bad, flt in [(b, flt_i) for b in (
            '{"k": 12.5}', '{"k": 12.0}', '{"k": true}', '{"k": "12.5"}',
            '{"k": "abc"}', '{"k": [1]}', '{"k": "99999999999"}')
            + unicode_bad] + [('{"k": "9223372036854775808"}', flt_l)]:
        with pytest.raises(ValueError, match="CAST_INVALID_INPUT"):
            _apply_server_filter(tbl(bad), flt)
    # double cast accepts numerics (incl. fractional), throws on booleans
    flt_dd = {"path": "$.k", "cast": "double", "op": ">", "value": 10.0}
    got = _apply_server_filter(tbl('{"k": 12.5}', '{"k": 9}', '{"k": "11"}'),
                               flt_dd)
    assert got["offset"].to_pylist() == [0, 2]
    for bad in ('{"k": false}',) + unicode_bad:
        with pytest.raises(ValueError, match="CAST_INVALID_INPUT"):
            _apply_server_filter(tbl(bad), flt_dd)


def test_concurrent_producers_dense_gapless(tmp_path):
    """r8 verdict "Next round" #5: N threads producing concurrently to
    the SAME partition must come out with dense, gapless server-assigned
    offsets and every payload surviving exactly once — the _append_lock
    serialization plus atomic fragment rename, observed from outside."""
    import json
    import threading

    import pyarrow as pa

    from fluvio_duck_spark.sources.loopback import (
        RecordServer,
        server_fetch,
        server_parts,
        server_produce,
    )

    srv = RecordServer(str(tmp_path / "log")).start()
    try:
        n_threads, per_thread, rows = 8, 5, 7
        results, errors = [], []

        def produce(tid: int) -> None:
            try:
                for b in range(per_thread):
                    t = pa.table({
                        "timestamp": pa.array([0] * rows, pa.timestamp("us")),
                        "value": pa.array(
                            [json.dumps({"tid": tid, "batch": b, "i": i})
                             for i in range(rows)]
                        ),
                    })
                    results.append(server_produce(srv.address, 0, t))
            except Exception as exc:  # noqa: BLE001 — surfaced below
                errors.append(exc)

        threads = [threading.Thread(target=produce, args=(t,))
                   for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        total = n_threads * per_thread * rows
        # every ack names a distinct, aligned base; bases tile [0, total)
        bases = sorted(r["base_offset"] for r in results)
        assert bases == list(range(0, total, rows))
        assert all(r["n"] == rows for r in results)
        assert server_parts(srv.address) == {0: total}
        # the log itself: dense offsets, every (tid, batch, i) exactly once
        tbl = server_fetch(srv.address, 0, 0, None)
        assert tbl["offset"].to_pylist() == list(range(total))
        payloads = [json.loads(v) for v in tbl["value"].to_pylist()]
        keys = {(p["tid"], p["batch"], p["i"]) for p in payloads}
        assert len(keys) == total
        # each produce call's rows landed contiguously in arrival order
        by_off = dict(zip(tbl["offset"].to_pylist(), payloads))
        for r in results:
            got = [by_off[o] for o in
                   range(r["base_offset"], r["base_offset"] + r["n"])]
            assert [g["i"] for g in got] == list(range(rows))
            assert len({(g["tid"], g["batch"]) for g in got}) == 1
    finally:
        srv.stop()


def test_chain_semantics_match_engine_jolt(spark, log_dir):
    """The server chain interpreter must be BYTE-identical to the
    engine's jolt interpretation (transforms.py) — including
    get_json_object's number re-rendering (12.50 -> '12.5', 1e3 ->
    '1000.0', 1e7 -> '1.0E7'), to_json's null-field omission, unicode,
    and embedded quotes.  Known out-of-scope: doubles where Java 17's
    non-shortest Double.toString diverges from shortest-roundtrip
    (e.g. 1e23 -> '9.999999999999999E22')."""
    import pyarrow as pa

    from fluvio_duck_spark.sources.loopback import (
        _apply_server_chain,
        translate_transform_chain,
    )
    from fluvio_duck_spark.transforms import jolt_transform

    values = [
        '{"k": 57, "route": "a", "ms": 12}', '{"k": "hello world"}',
        '{"k": 12.50}', '{"k": -3}', '{"route": "b"}', '{"k": null}',
        '{"k": true}', '{"k": false}', '{"k": {"nested": 1}}',
        '{"k": [1, 2.5, "x"]}', "not json", None, '{"k": "üñîçødé ✓"}',
        '{"k": 1e3}', '{"k": 0.001}', '{"k": -12.25}', '{"k": 10000000.0}',
        '{"k": 1e-4}', '{"k": 123456789012345}', '{"k": ""}', '{"k": 0}',
        '{"k": "with \\"quotes\\" and \\\\slash"}',
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], ["offset", "value"]
    )
    specs = [
        [{"operation": "shift", "spec": {"k": "kk", "route": "r"}}],
        [{"operation": "default", "spec": {"k": 99, "tag": "x"}}],
        [{"operation": "shift", "spec": {"k": "kk"}},
         {"operation": "default", "spec": {"kk": 0, "extra": "e"}}],
    ]
    for spec in specs:
        engine = {
            r["offset"]: r["value"]
            for r in jolt_transform(df, {"spec": spec}).collect()
        }
        chain = translate_transform_chain(
            [{"uses": "infinyon/jolt@0.1.0", "with": {"spec": spec}}]
        )
        assert chain is not None
        tbl = pa.table({
            "offset": pa.array(range(len(values)), pa.int64()),
            "timestamp": pa.array([0] * len(values), pa.timestamp("us")),
            "value": pa.array(values, pa.string()),
        })
        out = _apply_server_chain(tbl, chain)
        server = dict(zip(out["offset"].to_pylist(),
                          out["value"].to_pylist()))
        assert server == engine, spec


def test_translate_transform_chain_scope(spark):
    """All-or-nothing translation: one untranslatable link keeps the
    WHOLE chain engine-side (a pushed prefix would reorder effects
    across the wire)."""
    from fluvio_duck_spark.sources.loopback import translate_transform_chain

    jolt = {"uses": "infinyon/jolt@0.1.0",
            "with": {"spec": [{"operation": "shift", "spec": {"k": "kk"}}]}}
    flt = {"uses": "sql-filter",
           "with": {"where":
                    "cast(get_json_object(value, '$.k') as int) >= 50"}}
    got = translate_transform_chain([flt, jolt])
    assert [op["kind"] for op in got] == ["filter", "shift"]
    # the mirror-safe sql-map subset translates too
    got = translate_transform_chain(
        [{"uses": "sql-map", "with": {"value": "upper(value)"}},
         {"uses": "sql-map",
          "with": {"value": "get_json_object(value, '$.k')"}}]
    )
    assert got == [{"kind": "map", "fn": "upper"},
                   {"kind": "map", "fn": "json_path", "path": "$.k"}]
    # untranslatable links poison the whole chain
    for bad in (
        {"uses": "sql-map", "with": {"value": "concat(value, 'x')"}},
        {"uses": "sql-map", "with": {"value": "upper(substr(value, 1))"}},
        {"uses": "sql-filter", "with": {"where": "value like '%x%'"}},
        {"uses": "infinyon/jolt@0.1.0",
         "with": {"spec": [{"operation": "remove", "spec": {"k": ""}}]}},
        {"uses": "my-registered-module", "with": {}},
    ):
        assert translate_transform_chain([flt, bad, jolt]) is None, bad
    # a non-leaf jolt spec value (unsupported leaf type) is refused too
    assert translate_transform_chain(
        [{"uses": "infinyon/jolt@0.1.0",
          "with": {"spec": [{"operation": "shift", "spec": {"k": 3}}]}}]
    ) is None


def test_split_translatable_prefix_contract():
    """split_translatable_prefix: longest translatable head + engine
    tail; full chains split with an empty tail; a fold in the tail cuts
    the prefix back before any pushed unnest (the engine fold would
    otherwise order over wire-duplicated offsets without the engine's
    element-sequence tie-breaker)."""
    from fluvio_duck_spark.sources.loopback import split_translatable_prefix

    flt = {"uses": "sql-filter",
           "with": {"where":
                    "cast(get_json_object(value, '$.k') as int) >= 50"}}
    jolt = {"uses": "infinyon/jolt@0.1.0",
            "with": {"spec": [{"operation": "shift", "spec": {"k": "kk"}}]}}
    bad = {"uses": "sql-map", "with": {"value": "concat(value, 'x')"}}
    unnest = {"uses": "sql-array-map", "with": {"path": "$"}}
    fold = {"uses": "sum-aggregate",
            "with": {"field": "k", "partitioned": "true"}}

    ops, tail = split_translatable_prefix([flt, jolt, bad])
    assert [op["kind"] for op in ops] == ["filter", "shift"]
    assert tail == [bad]
    # fully translatable -> empty tail, same ops as the all-or-nothing form
    ops, tail = split_translatable_prefix([flt, jolt])
    assert [op["kind"] for op in ops] == ["filter", "shift"] and tail == []
    # untranslatable head -> nothing pushes
    ops, tail = split_translatable_prefix([bad, flt])
    assert ops == [] and tail == [bad, flt]
    # fold in the ENGINE tail cuts the prefix before the pushed unnest
    ops, tail = split_translatable_prefix([flt, unnest, bad, fold])
    assert [op["kind"] for op in ops] == ["filter"]
    assert tail == [unnest, bad, fold]
    # fold inside the prefix (no unnest upstream) still pushes whole
    ops, tail = split_translatable_prefix([flt, fold, bad])
    assert [op["kind"] for op in ops] == ["filter", "fold"] and tail == [bad]


def test_prefix_pushdown_wire_bytes_between_bounds(server):
    """The prefix split keeps most of the wire win when one tail link is
    untranslatable: over the same window, bytes(full push) <=
    bytes(prefix push) < bytes(no push) — the prefix (filter+shift)
    bounds the payload, the engine-side concat tail adds nothing to the
    wire."""
    from fluvio_duck_spark.sources.loopback import split_translatable_prefix

    transforms = [
        {"uses": "sql-filter",
         "with": {"where":
                  "cast(get_json_object(value, '$.k') as int) >= 50"}},
        {"uses": "infinyon/jolt@0.1.0",
         "with": {"spec": [{"operation": "shift", "spec": {"k": "kk"}}]}},
        {"uses": "sql-map",
         "with": {"value": "concat('v:', get_json_object(value, '$.kk'))"}},
    ]
    prefix_ops, tail = split_translatable_prefix(transforms)
    assert len(prefix_ops) == 2 and len(tail) == 1
    full_ops, no_tail = split_translatable_prefix(transforms[:2])
    assert no_tail == []
    raw = len(server.fetch_ipc(0, 0, 200))
    prefix = len(server.fetch_ipc(0, 0, 200, None, prefix_ops))
    full = len(server.fetch_ipc(0, 0, 200, None, full_ops))
    assert full <= prefix < raw, (full, prefix, raw)
    # the win is substantive: the prefix filter drops ~half the records
    # and the shift strips the payload to one short key
    assert prefix < 0.6 * raw, (prefix, raw)


def test_chain_pushdown_reduces_wire_bytes(server):
    """CONNECTOR.md §6 scale posture for the pushed chain: the whole
    point of SPU-side execution is fewer bytes on the wire.  Measure
    the fetch payload with and without the pushed chain over the same
    window — the filtered+shifted stream must be strictly smaller."""
    from fluvio_duck_spark.sources.loopback import translate_transform_chain

    chain = translate_transform_chain([
        {"uses": "sql-filter",
         "with": {"where":
                  "cast(get_json_object(value, '$.k') as int) >= 50"}},
        {"uses": "infinyon/jolt@0.1.0",
         "with": {"spec": [{"operation": "shift", "spec": {"k": "kk"}}]}},
    ])
    raw = len(server.fetch_ipc(0, 0, 200))
    pushed = len(server.fetch_ipc(0, 0, 200, None, chain))
    assert pushed < raw, (pushed, raw)
    # the reduction is substantive, not rounding: the shifted record
    # keeps one short key of the original payload and the filter drops
    # roughly half the records
    assert pushed < 0.6 * raw, (pushed, raw)


def test_stream_chain_pushdown_matches_batch_engine(spark, server, log_dir):
    """The STREAMING reader ships the same translated chain with every
    windowed fetch: a drained ``format("fluvio")`` stream with
    .option('chain', ...) must equal the batch engine-side chain over
    the full log — the SPU stand-in transforms records before they
    cross the wire in BOTH execution modes."""
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
    register_fluvio_source(spark)
    q = (
        spark.readStream.format("fluvio")
        .option("server", server.address)
        .option("max_rows_per_batch", "100")
        .option("chain", json.dumps(chain))
        .load()
        .writeStream.format("memory").queryName("__stream_chain")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the engine leg's default schema has no partition column; compare
    # the (offset, value) MULTISET (offsets are per-partition sequences,
    # so duplicates across partitions are counted, not collapsed)
    streamed = sorted(
        (r["offset"], r["value"])
        for r in spark.table("__stream_chain").collect()
    )
    engine = fluvio_consume(
        spark,
        ["events", "-A", "-B", "--rows", "1000000",
         "--transform", json.dumps(transforms[0]),
         "--transform", json.dumps(transforms[1])],
        sf_dir=SF_DIR,
        source=(
            spark.read.format("fluvio")
            .option("log_dir", log_dir)
            .option("args", "-A -B --rows 1000000").load()
        ),
        per_partition_offsets=True,
    )
    truth = sorted(
        (r["offset"], r["value"])
        for r in engine.select("offset", "value").collect()
    )
    assert streamed == truth and len(streamed) > 0


def test_map_pushdown_matches_engine_sql_map(spark, server, log_dir):
    """The translatable sql-map subset (upper/lower/json-path rewrites)
    pushed to the server must equal the engine's
    ``F.expr(expr).cast("string")`` byte-for-byte — including NULL
    propagation, unicode case mapping (ß→SS, ligatures), and the
    get_json_object extraction mirror."""
    import json

    import pyarrow as pa

    from fluvio_duck_spark.sources.loopback import (
        _apply_server_chain,
        translate_transform_chain,
    )
    from fluvio_duck_spark.transforms import sql_map_transform

    values = [
        '{"k": 57, "route": "a"}', '{"k": "Straße ﬁne ǅungla"}',
        '{"k": 12.50}', '{"route": "b"}', "not json", None,
        '{"k": true}', '{"k": {"n": 1}}', "PLAIN text ß", "ÅÉÎØÜ mixed",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], ["offset", "value"]
    )
    for expr in ("upper(value)", "lower(value)",
                 "get_json_object(value, '$.k')"):
        engine = {
            r["offset"]: r["value"]
            for r in sql_map_transform(df, {"value": expr}).collect()
        }
        chain = translate_transform_chain(
            [{"uses": "sql-map", "with": {"value": expr}}]
        )
        assert chain is not None, expr
        tbl = pa.table({
            "offset": pa.array(range(len(values)), pa.int64()),
            "timestamp": pa.array([0] * len(values), pa.timestamp("us")),
            "value": pa.array(values, pa.string()),
        })
        out = _apply_server_chain(tbl, chain)
        server_vals = dict(zip(out["offset"].to_pylist(),
                               out["value"].to_pylist()))
        assert server_vals == engine, expr

    # end-to-end over the wire: map composes with filter in one chain
    chain = translate_transform_chain([
        {"uses": "sql-filter",
         "with": {"where":
                  "cast(get_json_object(value, '$.k') as int) >= 50"}},
        {"uses": "sql-map",
         "with": {"value": "get_json_object(value, '$.k')"}},
    ])
    from fluvio_duck_spark.sources.loopback import server_fetch

    got = server_fetch(server.address, 1, 0, 50, chain=chain)
    assert 0 < got.num_rows < 50
    assert all(int(v) >= 50 for v in got["value"].to_pylist())


def test_fold_cast_matches_try_cast_long(spark):
    """The pushed fold's payload read must mirror the engine's
    ``try_cast(get_json_object(...) AS long)`` exactly (transforms.py:160)
    across the cast's edge cases: whitespace trim (chars <= U+0020 only),
    single sign, ASCII-digits-only (fractional/exponent/boolean/Unicode
    digits -> NULL, skipped by the sum), int64 range.  Engine leg = the
    registered sum-aggregate transform over a DataFrame; server leg = the
    chain interpreter over the same rows as one fetched window."""
    import pyarrow as pa

    from fluvio_duck_spark.sources.loopback import _apply_server_chain
    from fluvio_duck_spark.transforms import aggregate_sum_transform

    payloads = [
        '{"k": 12}', '{"k": "12"}', '{"k": " 12 "}', '{"k": "+12"}',
        '{"k": "\\t-3\\n"}', '{"k": 12.5}', '{"k": "12.5"}', '{"k": "1e3"}',
        '{"k": true}', '{"k": null}', '{}', 'not json',
        '{"k": "9223372036854775807"}',   # skipped: the SUM would overflow
        '{"k": "92233720368547758080"}',  # out of int64 -> NULL -> skipped
        '{"k": "\\u0660\\u0661"}', '{"k": ""}', '{"k": "- 12"}',
        '{"k": "0012"}', '{"k": "-0"}', None,
    ]
    # leading-invalid prefix: until the first valid payload the running
    # sum is NULL and the rewritten value must be NULL on both sides
    payloads = ['{"k": "nope"}'] + payloads
    # drop the int64-max row: a later valid value would overflow the
    # accumulator, which neither side defines (out of parity scope)
    payloads = [p for p in payloads if p != '{"k": "9223372036854775807"}']

    rows = [(i, 0, p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "offset long, partition int, value string")
    engine = [
        r.value
        for r in aggregate_sum_transform(
            df, {"field": "k", "partitioned": "true"}, "7"
        ).orderBy("offset").collect()
    ]

    tbl = pa.table({
        "offset": pa.array(range(len(payloads)), pa.int64()),
        "timestamp": pa.array([0] * len(payloads), pa.timestamp("us")),
        "value": pa.array(payloads, pa.string()),
    })
    folded = _apply_server_chain(
        tbl, [{"kind": "fold", "field": "k", "init": 7}]
    )
    assert folded["value"].to_pylist() == engine


def test_timestamp_twin_matches_try_cast_timestamp(spark):
    """The SQL table function's ``-c name:t=path`` twin
    (loopback._timestamp_like_spark) against the engine's
    ``try_cast(... AS timestamp)`` in the UTC session, value by value:
    a UTC offset is applied (not dropped), a compact date is NULL, a
    one-digit month and day are read, plus the grammar's edges (trim,
    partial dates and times, fraction truncation, zone forms, field
    ranges, DST gap and overlap)."""
    from fluvio_duck_spark.sources.loopback import _try_cast_like_spark

    vals = [
        "2024-01-01T00:00:00+02:00", "20240101", "2024-1-1",
        "2024", "2024-01", "2024-1", "2024-01-01", " 2024-01-01\t",
        "\x7f2024-01-01", "2024-01-01\u00a0", "2024-01-01T", "2024-01-01 12",
        "2024-01-01T12:3", "2024-01-01T1:2:3", "2024-01-01T12:30:45.",
        "2024-01-01T12:30:45.123456789", "2024-01-01T12:30:45.5Z",
        "2024-01-01 12:30:45 UTC", "2024-01-01T12:30:45UT",
        "2024-01-01T12:30:45+1:00", "2024-01-01T12:30:45+01:0",
        "2024-01-01T12:30:45+0100", "2024-01-01T12:30:45+01",
        "2024-01-01T12:30:45-0", "2024-01-01T12:30:45-05:30",
        "2024-01-01T12:30:45+01:00:30", "2024-01-01T12:30:45+18:00",
        "2024-01-01T12:30:45+19:00", "2024-01-01T12:30:45GMT+2",
        "2024-01-01T12:30:45UTC+01:00", "2024-01-01T12:30:45 Z",
        "2024-01-01T12:30:45z", "2024-01-01T12:30Z",
        "2024-01-01 12:30:45 Europe/Paris", "2024-03-10T02:30:00 America/New_York",
        "2024-11-03T01:30:00 America/New_York", "2024-01-01T12:30:45 Mars/Base",
        "2024-13-01", "2024-02-30", "2024-02-29", "2023-02-29",
        "2024-01-01T24:00:00", "2024-01-01T12:60:00", "+2024-01-01",
        "002024-01-01", "2024-001-01", "2024/01/01", "2024-01-01X",
        "2024-01-01  12:00:00", "", " ", "9999-12-31T23:59:59.999999",
    ]
    df = spark.createDataFrame(list(enumerate(vals)), "i int, s string")
    rows = df.selectExpr(
        "i", "unix_micros(try_cast(s AS timestamp)) AS us"
    ).orderBy("i").collect()
    for r in rows:
        got = _try_cast_like_spark(vals[r.i], "t")
        want = None if r.us is None else (
            dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=r.us))
        assert got == want, (vals[r.i], got, want)


def test_number_rule_matches_engine_casts(spark):
    """The one string -> number rule behind the SQL table function's -c
    casts, the fold's try_cast and the pushed filter's ANSI cast
    (loopback._number_like_spark), checked value by value against the
    engine's try_cast to int/bigint/float/double: Unicode digits and
    spaces, '_' separators, f/d suffixes, hex floats, the special
    literals, the integral-only DEL trim, range and float32 overflow.
    The ANSI twin raises exactly where the engine's try_cast to the same
    type (int, bigint, double) is NULL."""
    import math

    from fluvio_duck_spark.sources.loopback import (
        _cast_like_spark,
        _try_cast_like_spark,
    )

    vals = [
        "12", " 12", "\u00a012", "\u2003\u20037", "\u0661\u0662", "1_0",
        "+12", "-0", "0012", "12.0", "12.5", "1e3", ".5", "5.", "1.5d",
        "1.5F", "1d", "0x1p3", "inf", "-Infinity", "NaN", "nan", "+nan",
        "-NaN", "INF", "Infinityd", "\x7f12", "\t12\n", "\x0012", "3.5e300",
        "1e-50", "1e400", "", " ", "+", "1e", "1.2.3", "- 12", "12L",
        "1,000", "99999999999", "9223372036854775808", "\u206012",
    ]
    df = spark.createDataFrame(list(enumerate(vals)), "i int, s string")
    rows = df.selectExpr(
        "i", "try_cast(s AS int)", "try_cast(s AS bigint)",
        "try_cast(s AS float)", "try_cast(s AS double)",
    ).orderBy("i").collect()

    def same(a, b):
        return a == b or (isinstance(a, float) and isinstance(b, float)
                          and math.isnan(a) and math.isnan(b))

    for r in rows:
        v = vals[r[0]]
        for code, want in zip("ilfd", r[1:]):
            assert same(_try_cast_like_spark(v, code), want), (v, code, want)
        for cast, want in (("int", r[1]), ("bigint", r[2]), ("double", r[4])):
            if want is None:
                with pytest.raises(ValueError, match="CAST_INVALID_INPUT"):
                    _cast_like_spark(v, cast)
            else:
                assert same(_cast_like_spark(v, cast), want), (v, cast)


def test_fold_pushdown_plans_one_task_per_partition(server):
    """A pushed fold is prefix-stateful within the partition window, so
    the batch plan must pin ONE task per partition — even when an
    explicit max_rows_per_task would otherwise chunk the window (a chunk
    boundary would reseed the accumulator mid-log)."""
    import json

    from fluvio_duck_spark.sources.datasource import FluvioReader
    from fluvio_duck_spark.sources.loopback import translate_transform_chain

    chain = translate_transform_chain(
        [{"uses": "sum-aggregate",
          "with": {"field": "k", "partitioned": "true"}}]
    )
    assert chain == [{"kind": "fold", "field": "k", "init": 0}]
    base = {"server": server.address, "args": "-A -B --rows 1000000",
            "max_rows_per_task": "10"}
    chunked = FluvioReader(dict(base)).partitions()
    n_parts = len(server_parts(server.address))
    assert len(chunked) > n_parts  # granule chunking is in force...
    whole = FluvioReader(
        dict(base, chain=json.dumps(chain))
    ).partitions()
    assert len(whole) == n_parts  # ...until a fold is pushed
    spans = sorted((p.pid, p.lo, p.hi) for p in whole)
    leos = server_parts(server.address)
    assert spans == [(pid, 0, leo) for pid, leo in sorted(leos.items())]


def test_stream_rejects_fold_chain(server):
    """The stream reader must refuse a pushed fold outright: every
    micro-batch fetch would reseed the accumulator and silently diverge
    from the batch engine leg (the loud-rejection convention)."""
    import json

    from fluvio_duck_spark.sources.datasource import FluvioStreamReader

    with pytest.raises(ValueError, match="reseed"):
        FluvioStreamReader({
            "server": server.address,
            "chain": json.dumps([{"kind": "fold", "field": "k", "init": 0}]),
        })


def test_translate_fold_scope():
    """Only the PER-PARTITION fold translates: the global fold orders
    across partition logs, which no single per-partition fetch can see —
    it must stay engine-side (all-or-nothing, whole chain)."""
    from fluvio_duck_spark.sources.loopback import translate_transform_chain
    from fluvio_duck_spark.transforms import TransformSpec

    glob = {"uses": "sum-aggregate", "with": {"field": "k"}}
    assert translate_transform_chain([glob]) is None
    # TransformSpec front end (--smartmodule + --aggregate-initial)
    spec = TransformSpec(uses="sum-aggregate",
                         params={"field": "v", "partitioned": "true"},
                         aggregate_initial="100")
    assert translate_transform_chain([spec]) == [
        {"kind": "fold", "field": "v", "init": 100}
    ]
    # dicts may carry the initial inline
    assert translate_transform_chain(
        [{"uses": "sum-aggregate",
          "with": {"field": "k", "partitioned": "true"},
          "aggregate_initial": "-5"}]
    ) == [{"kind": "fold", "field": "k", "init": -5}]


def test_random_composed_chains_match_engine(spark):
    """Seeded randomized net over the WHOLE translatable chain algebra:
    diverse generated payloads x generated multi-link chains (filter /
    shift / default / map / fold composed in random orders) across two
    partition logs — the server interpreter must match the engine's
    DataFrame interpretation byte-for-byte, kept-row sets included.
    The fixed parity tests pin each link's edge semantics one at a
    time; this one pins their COMPOSITION (a link reading the previous
    link's rewritten value text is where mirror drift would hide).
    Filter/fold-visible ``$.k`` payloads stay int/missing/null — the
    ANSI both-throw path is pinned separately in
    test_server_framed_errors_and_cast_parity."""
    import json as _json
    import random

    import pyarrow as pa

    from fluvio_duck_spark.sources.loopback import (
        _apply_server_chain,
        translate_transform_chain,
    )
    from fluvio_duck_spark.transforms import (
        TransformSpec,
        apply_transform_chain,
    )

    rng = random.Random(0xF1D0)

    def payload():
        if rng.random() < 0.08:
            return rng.choice(["not json", None, "[1,2]", '"scalar"'])
        parts = {}
        r = rng.random()
        if r < 0.6:
            parts["k"] = rng.randint(-100, 200)
        elif r < 0.75:
            parts["k"] = None
        c = rng.randrange(8)
        if c == 0:
            parts["v"] = rng.randint(-10**6, 10**6)
        elif c == 1:
            parts["v"] = round(rng.uniform(-1e4, 1e4), rng.randrange(1, 6))
        elif c == 2:
            parts["v"] = rng.choice([1e3, 0.001, 1e-4, 1e7, -12.25, 12.50])
        elif c == 3:
            parts["v"] = rng.choice(
                ["héllo ✓", "", 'with "q"', "x\\y", "12.5", " 7 ", "ß"])
        elif c == 4:
            parts["v"] = rng.choice([True, False, None])
        elif c == 5:
            parts["v"] = {"nested": rng.randint(0, 9)}
        elif c == 6:
            parts["v"] = [1, "a", 2.5]
        if rng.random() < 0.2:
            parts["route"] = rng.choice(["a", "b", "c"])
        return _json.dumps(parts, ensure_ascii=False)

    def random_link():
        kind = rng.randrange(7)
        if kind == 5:
            return {"uses": "sql-filter-map", "with": {"value": rng.choice(
                ["upper(value)", "lower(value)",
                 "get_json_object(value, '$.k')",
                 "get_json_object(value, '$.v')"])}}
        if kind == 6:
            return {"uses": "sql-array-map",
                    "with": {"path": rng.choice(["$", "$.v"])}}
        if kind == 0:
            return {"uses": "sql-filter", "with": {"where":
                    "cast(get_json_object(value, '$.k') as int) "
                    f"{rng.choice(['>=', '<', '!='])} {rng.randint(-50, 150)}"}}
        if kind == 1:
            spec = {"k": rng.choice(["k", "kk"]),
                    "v": rng.choice(["v", "vv"])}
            if rng.random() < 0.5:
                spec["route"] = "r"
            return {"uses": "infinyon/jolt@0.1.0",
                    "with": {"spec": [{"operation": "shift", "spec": spec}]}}
        if kind == 2:
            return {"uses": "infinyon/jolt@0.1.0",
                    "with": {"spec": [{"operation": "default",
                                       "spec": {"k": rng.randint(0, 9),
                                                "tag": "t"}}]}}
        if kind == 3:
            return {"uses": "sql-map", "with": {"value": rng.choice(
                ["upper(value)", "lower(value)",
                 "get_json_object(value, '$.k')",
                 "get_json_object(value, '$.v')"])}}
        return {"uses": "sum-aggregate",
                "with": {"field": "k", "partitioned": "true"},
                "aggregate_initial": str(rng.randint(-5, 100))}

    # two partition logs with their own dense offsets, like a real fetch
    parts = {0: [payload() for _ in range(150)],
             1: [payload() for _ in range(120)]}
    rows = [(off, pid, v) for pid, vals in parts.items()
            for off, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "offset long, partition int, value string")

    chains = [[random_link() for _ in range(rng.randint(1, 3))]
              for _ in range(10)]
    # always exercise the two most composition-sensitive shapes
    chains.append([
        {"uses": "sql-filter", "with": {"where":
         "cast(get_json_object(value, '$.k') as int) >= 10"}},
        {"uses": "sum-aggregate",
         "with": {"field": "k", "partitioned": "true"},
         "aggregate_initial": "7"},
        {"uses": "sql-map", "with": {"value": "upper(value)"}},
    ])
    chains.append([
        {"uses": "infinyon/jolt@0.1.0",
         "with": {"spec": [{"operation": "shift", "spec": {"k": "k"}}]}},
        {"uses": "sum-aggregate",
         "with": {"field": "k", "partitioned": "true"}},
    ])
    # the two new-kind composition shapes: unnest feeding a filter-map
    # (each element rewritten-or-dropped), and a case-map feeding an
    # unnest (only the case-mapped ARRAY payloads survive the unnest)
    chains.append([
        {"uses": "sql-array-map", "with": {"path": "$.v"}},
        {"uses": "sql-filter-map",
         "with": {"value": "get_json_object(value, '$.nested')"}},
    ])
    chains.append([
        {"uses": "sql-filter-map", "with": {"value": "upper(value)"}},
        {"uses": "sql-array-map", "with": {"path": "$"}},
    ])

    def fold_after_unnest(chain_spec):
        seen = False
        for t in chain_spec:
            if t["uses"] == "sql-array-map":
                seen = True
            elif t["uses"] == "sum-aggregate" and seen:
                return True
        return False

    tested = refused = 0
    for chain_spec in chains:
        dsl = translate_transform_chain(chain_spec)
        if fold_after_unnest(chain_spec):
            # order-ambiguous composition: duplicated offsets under an
            # offset-ordered fold — must stay engine-side
            assert dsl is None, chain_spec
            refused += 1
            continue
        assert dsl is not None, chain_spec
        specs = [TransformSpec(uses=t["uses"], params=dict(t.get("with", {})),
                               aggregate_initial=t.get("aggregate_initial"))
                 for t in chain_spec]
        # MULTISET compare — an array-map link duplicates offsets by design
        engine = sorted(
            (r["partition"], r["offset"], r["value"])
            for r in apply_transform_chain(df, specs).collect()
        )
        server = []
        for pid, vals in parts.items():
            tbl = pa.table({
                "offset": pa.array(range(len(vals)), pa.int64()),
                "timestamp": pa.array([0] * len(vals), pa.timestamp("us")),
                "value": pa.array(vals, pa.string()),
            })
            out = _apply_server_chain(tbl, dsl)
            server.extend(
                (pid, o, v) for o, v in zip(out["offset"].to_pylist(),
                                            out["value"].to_pylist())
            )
        assert sorted(server) == engine, chain_spec
        tested += 1
    assert tested + refused == len(chains) and tested >= len(chains) - 4


def test_array_map_mirror_matches_engine(spark):
    """The unnest op's server mirror must be BYTE-identical to the
    engine's ``array_map_transform`` across the element-rendering
    contract: number re-rendering (1.50 -> '1.5', 1e3 -> '1000.0'),
    unquoted strings, booleans, COMPACT object/array re-serialization,
    a JSON null ELEMENT as the text 'null' (the engine's indexed
    extraction renders it, unlike a null dot-path match), and the
    no-output cases (missing path / non-array node / malformed / empty
    array).  Output multisets compare on (parent offset, element text)
    — offsets DUPLICATE across elements by design."""
    import pyarrow as pa

    from fluvio_duck_spark.sources.loopback import (
        _apply_server_chain,
        translate_transform_chain,
    )
    from fluvio_duck_spark.transforms import array_map_transform

    values = [
        '[1.50, "a", {"k": 1}, null, true]', "[]", "not json", None,
        '{"tags": ["x", 2, {"b": [1, 2]}, null]}', '{"tags": {}}',
        '{"tags": []}', '[1000000.0, 2.5e-4, -0.0, 123456789012345]',
        '["sp ace", "x\\u00e9", ""]', '{"k": 42}', "[[1, 2], [3]]",
        '{"tags": "notarray"}', "null", "[null]",
        '[{"k": 1, "z": "a b"} , {"q": [1, 2]}]',
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], ["offset", "value"]
    )
    for path in ("$", "$.tags"):
        engine = sorted(
            (r["offset"], r["value"])
            for r in array_map_transform(df, {"path": path}).collect()
        )
        chain = translate_transform_chain(
            [{"uses": "sql-array-map", "with": {"path": path}}]
        )
        assert chain == [{"kind": "unnest", "path": path}]
        tbl = pa.table({
            "offset": pa.array(range(len(values)), pa.int64()),
            "timestamp": pa.array([0] * len(values), pa.timestamp("us")),
            "value": pa.array(values, pa.string()),
        })
        out = _apply_server_chain(tbl, chain)
        mirror = sorted(zip(out["offset"].to_pylist(),
                            out["value"].to_pylist()))
        assert mirror == engine, path
        assert len(engine) > 0


def test_filter_map_mirror_matches_engine(spark):
    """The filter_map op's mirror must match the engine's
    ``sql_filter_map_transform`` on every mirror-safe rewrite —
    including WHICH records survive (the Option<Record> drop decision):
    json_path drops missing-key / JSON-null / malformed payloads,
    upper/lower drop only NULL payloads."""
    import pyarrow as pa

    from fluvio_duck_spark.sources.loopback import (
        _apply_server_chain,
        translate_transform_chain,
    )
    from fluvio_duck_spark.transforms import sql_filter_map_transform

    values = [
        '{"k": 57}', '{"k": "Straße"}', '{"k": 12.50}', '{"j": 1}',
        '{"k": null}', "not json", None, '{"k": {"n": 1}}', "plain ß",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], ["offset", "value"]
    )
    for expr in ("get_json_object(value, '$.k')", "upper(value)",
                 "lower(value)"):
        engine = sorted(
            (r["offset"], r["value"])
            for r in sql_filter_map_transform(df, {"value": expr}).collect()
        )
        chain = translate_transform_chain(
            [{"uses": "sql-filter-map", "with": {"value": expr}}]
        )
        assert chain is not None and chain[0]["kind"] == "filter_map", expr
        tbl = pa.table({
            "offset": pa.array(range(len(values)), pa.int64()),
            "timestamp": pa.array([0] * len(values), pa.timestamp("us")),
            "value": pa.array(values, pa.string()),
        })
        out = _apply_server_chain(tbl, chain)
        mirror = sorted(zip(out["offset"].to_pylist(),
                            out["value"].to_pylist()))
        assert mirror == engine, expr
    # an arbitrary-SQL rewrite stays engine-side — all-or-nothing
    assert translate_transform_chain(
        [{"uses": "sql-filter-map",
          "with": {"value": "concat('x', value)"}}]
    ) is None


def test_translate_refuses_fold_after_unnest():
    """An aggregate fold downstream of an array-map folds over DUPLICATED
    offsets — order-ambiguous engine-side, so no server pass can mirror
    it bit-identically: the whole chain must stay engine-side.  The
    reverse order (fold, then unnest) is deterministic and translates."""
    from fluvio_duck_spark.sources.loopback import translate_transform_chain

    unnest = {"uses": "sql-array-map", "with": {"path": "$"}}
    fold = {"uses": "sum-aggregate",
            "with": {"field": "k", "partitioned": "true"}}
    assert translate_transform_chain([unnest, fold]) is None
    got = translate_transform_chain([fold, unnest])
    assert [op["kind"] for op in got] == ["fold", "unnest"]
    # non-literal path stays engine-side
    assert translate_transform_chain(
        [{"uses": "sql-array-map", "with": {"path": "$.a[0]"}}]
    ) is None


def test_new_kind_chain_pushdown_reduces_wire_bytes(spark):
    """CONNECTOR.md §6 scale posture for the filter-map/array-map
    chain: pushing [unnest -> filter-map($.k)] emits ONE short element
    text per parent record instead of the whole array payload, so the
    fetch stream must shrink.  Also pins the nuance the aggregate
    measurement would hide: an unnest pushed ALONE fans records OUT
    (2x rows here), so kind-level pushdown is not automatically a wire
    win — it is the chain's net effect that must be measured."""
    from fluvio_duck_spark.sources.loopback import (
        RecordServer,
        translate_transform_chain,
    )
    from fluvio_duck_spark.sources.pplog import write_pp_array_log_dir

    srv = RecordServer(write_pp_array_log_dir(spark, SF_DIR)).start()
    try:
        full = translate_transform_chain([
            {"uses": "sql-array-map", "with": {"path": "$"}},
            {"uses": "sql-filter-map",
             "with": {"value": "get_json_object(value, '$.k')"}},
        ])
        unnest_only = translate_transform_chain(
            [{"uses": "sql-array-map", "with": {"path": "$"}}]
        )
        raw = len(srv.fetch_ipc(0, 0, 200))
        pushed = len(srv.fetch_ipc(0, 0, 200, None, full))
        fanned = len(srv.fetch_ipc(0, 0, 200, None, unnest_only))
        assert pushed < raw, (pushed, raw)
        # the fan-out leg carries MORE rows than the raw window (2 per
        # parent) — the filter-map behind it is what wins the bytes back
        assert fanned > pushed, (fanned, pushed)
    finally:
        srv.stop()
