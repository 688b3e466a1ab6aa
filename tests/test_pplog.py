"""Per-partition offset semantics (reference src/partition.rs:107-134):
the multi-fragment fixture where every partition log owns its own dense
offset sequence, consumed through BOTH front ends."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluvio_duck_spark.sources.consume import fluvio_consume
from fluvio_duck_spark.sources.datasource import register_fluvio_source
from fluvio_duck_spark.sources.pplog import per_partition_log, write_pp_log_dir

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pp_source(spark):
    return per_partition_log(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def log_dir(spark):
    return write_pp_log_dir(spark, SF_DIR)


def _ds(spark, log_dir, args):
    register_fluvio_source(spark)
    return (
        spark.read.format("fluvio")
        .option("log_dir", log_dir)
        .option("args", args)
        .load()
    )


def test_offsets_are_dense_per_partition(pp_source):
    # each partition log is 0..n_p-1 — the defining property
    stats = (
        pp_source.groupBy("partition")
        .agg(F.count("*").alias("n"), F.min("offset").alias("lo"),
             F.max("offset").alias("hi"))
        .collect()
    )
    assert len(stats) == 4
    for r in stats:
        assert r.lo == 0 and r.hi == r.n - 1


def test_builder_tail_anchors_per_partition(spark, pp_source):
    df = fluvio_consume(
        spark, "events -A -T 3 --rows 1000000", sf_dir=SF_DIR,
        source=pp_source, per_partition_offsets=True,
    )
    rows = df.collect()
    assert len(rows) == 12  # 3 per partition, 4 partitions
    leo = {r["partition"]: r["n"] for r in
           pp_source.groupBy("partition").agg(F.count("*").alias("n")).collect()}
    # default projection drops partition; recover via the source join
    tails = sorted(r.offset for r in rows)
    expected = sorted(o for n in leo.values() for o in range(n - 3, n))
    assert tails == expected


def test_datasource_parity_with_builder(spark, pp_source, log_dir):
    for args in ("-A -T 3 --rows 1000000", "-p 2 -H 5 --end 12 --rows 99999",
                 "-A -B --rows 7"):
        b = fluvio_consume(
            spark, f"events {args}", sf_dir=SF_DIR,
            source=pp_source, per_partition_offsets=True,
        ).select("offset", "value")
        d = _ds(spark, log_dir, args).select("offset", "value")
        assert sorted(map(tuple, b.collect())) == sorted(map(tuple, d.collect()))


def test_budget_is_per_partition(spark, log_dir):
    df = _ds(spark, log_dir, "-A -B --rows 7")
    per = {r["partition"]: r["n"] for r in
           df.groupBy("partition").agg(F.count("*").alias("n")).collect()}
    assert per == {0: 7, 1: 7, 2: 7, 3: 7}
    # and the 7 are each partition's FIRST 7 (offsets 0..6)
    assert df.agg(F.max("offset")).first()[0] == 6


def test_tail_beyond_log_clamps_to_beginning(spark, log_dir):
    df = _ds(spark, log_dir, "-A -T 99999 --rows 1000000")
    n_all = _ds(spark, log_dir, "-A -B --rows 1000000").count()
    assert df.count() == n_all


def test_pinned_missing_partition_is_empty(spark, log_dir):
    assert _ds(spark, log_dir, "-p 9 -B").count() == 0


def test_footer_leo_matches_data(spark, log_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluvio_duck_spark.sources.pplog import pp_footer_leo, pp_partition_leos

    counts = {
        r["partition"]: r["n"]
        for r in _ds(spark, log_dir, "-A -B --rows 1000000")
        .groupBy("partition").agg(F.count("*").alias("n")).collect()
    }
    assert pp_partition_leos(log_dir) == counts

    # sf_dir layout: events.parquet as a multi-file directory, several
    # row groups per file, offsets out of file order — the footer LEO
    # is max(event_id) + 1 over every fragment
    ev = tmp_path / "events.parquet"
    ev.mkdir()
    for i, ids in enumerate(([5, 9, 2], [40, 17], [11])):
        pq.write_table(
            pa.table({"event_id": pa.array(ids, pa.int64())}),
            str(ev / f"part-{i}.parquet"), row_group_size=2,
        )
    assert pp_footer_leo(str(ev), "event_id") == 40 + 1


def _fetch_range(reader, start: dict, end: dict) -> list[tuple]:
    """Plan + read one committed [start, end) range through the full
    stream-reader protocol (partitions() then executor-side read())."""
    return [
        tuple(d.values())
        for p in reader.partitions(start, end)
        for b in reader.read(p)
        for d in b.to_pylist()
    ]


def test_stream_pp_cursors_and_replay(spark, log_dir):
    """The full streaming reader's per-partition cursor protocol
    directly: throttled triggers advance each partition's own offset,
    and re-planning a committed range replays it exactly (restart ≡
    first run — the exactly-once contract of CONNECTOR.md §4)."""
    from fluvio_duck_spark.sources.datasource import FluvioStreamReader

    r = FluvioStreamReader(
        {"log_dir": log_dir, "max_rows_per_batch": "100",
         "throttle_rows_per_trigger": "100"}
    )
    start = r.initialOffset()
    assert set(start) == {"0", "1", "2", "3"} and set(start.values()) == {0}
    seen = []
    pos = start
    for _ in range(20):
        nxt = r.latestOffset()
        if nxt == pos:
            break
        # each partition advanced by at most the per-trigger throttle
        for pid in nxt:
            assert 0 <= int(nxt[pid]) - int(pos[pid]) <= 100
        seen.extend(_fetch_range(r, pos, nxt))
        r.commit(nxt)
        pos = nxt
    # drained: totals match each partition's log
    from collections import Counter

    per = Counter(row[2] for row in seen)
    assert per == {0: 273, 1: 232, 2: 289, 3: 206}
    # offsets within each partition are its full dense range
    for pid, n in per.items():
        offs = sorted(row[0] for row in seen if row[2] == pid)
        assert offs == list(range(n))
    # replay of a committed middle range is bit-identical, and invariant
    # to the task granule it is re-planned with
    a = {"0": 50, "1": 0, "2": 100, "3": 10}
    b = {"0": 150, "1": 100, "2": 200, "3": 110}
    replay1 = _fetch_range(r, a, b)
    replay2 = _fetch_range(
        FluvioStreamReader({"log_dir": log_dir, "max_rows_per_batch": "7"}),
        a, b,
    )
    assert replay1 == replay2 and len(replay1) == 400


def test_metadata_log_dir_leo(spark, pp_source, log_dir):
    """fluvio_partitions(log_dir=...): the admin-RPC analogue lists the
    log's own partition dirs with footer-statistics LEO — equal to each
    partition's row count (dense 0..LEO_p-1 logs)."""
    from fluvio_duck_spark.sources.metadata import (
        fluvio_partitions,
        fluvio_topics,
    )

    parts = fluvio_partitions(spark, SF_DIR, log_dir=log_dir)
    assert parts.columns == ["topic", "partition", "LEO"]
    got = {r["partition"]: r["LEO"] for r in parts.collect()}
    truth = {
        str(r["partition"]): r["n"]
        for r in pp_source.groupBy("partition")
        .agg(F.count("*").alias("n")).collect()
    }
    assert got == truth
    assert {r["topic"] for r in parts.collect()} == {"events"}

    topics = fluvio_topics(spark, SF_DIR, log_dir=log_dir).collect()
    assert [(t["name"], t["partitions"]) for t in topics] == [("events", 4)]


def test_transform_chain_after_pp_bounds(spark, pp_source):
    """Chain ordering over pp offsets: the tail bound selects each
    partition's last 40 records FIRST, then the filter drops k<50 —
    filter-before-tail would refill the tail with earlier matches."""
    df = fluvio_consume(
        spark,
        [
            "events", "-A", "-T", "40", "--rows", "1000000",
            "--transform",
            '{"uses":"sql-filter","with":'
            '{"where":"cast(get_json_object(value, \'$.k\') as int) >= 50"}}',
            "-c", "kk:i=k",
        ],
        sf_dir=SF_DIR, source=pp_source, per_partition_offsets=True,
    )
    got = sorted(r["kk"] for r in df.collect())
    # truth computed independently: per-partition tail-40, then filter
    from pyspark.sql import Window

    w = Window.partitionBy("partition").orderBy(F.col("offset").desc())
    truth = (
        pp_source.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 40)
        .select(F.get_json_object("value", "$.k").cast("int").alias("kk"))
        .filter(F.col("kk") >= 50)
    )
    assert got == sorted(r["kk"] for r in truth.collect())
    assert len(got) < 160  # the filter really ran (tail alone is 160)


def test_consume_sql_log_dir_binding(spark, log_dir):
    """consume_sql(log_dir=...): the SQL-text surface binds
    fluvio_consume through the DataSource's per-partition planning and
    fluvio_partitions() through footer LEO — same statement text as the
    stand-in session."""
    from fluvio_duck_spark.sources.sql import consume_sql

    row = consume_sql(
        spark,
        "SELECT count(*) AS n, max(offset) AS mx "
        "FROM fluvio_consume('events -p 1 -B --rows 1000000')",
        log_dir=log_dir,
    ).first()
    assert (row["n"], row["mx"]) == (232, 231)  # partition 1's OWN log
    leo = consume_sql(
        spark, "SELECT sum(LEO) AS s FROM fluvio_partitions()",
        log_dir=log_dir,
    ).first()
    assert leo["s"] == 1000


def test_pp_algebra_reduces_to_global_with_one_partition(spark):
    """With n_partitions=1 the per-partition algebra must degenerate to
    the global single-sequence algebra exactly — tail/head/end/budget
    all anchor the same way when there is only one log."""
    src = per_partition_log(spark, SF_DIR, n_partitions=1).cache()
    for args in (
        "events -A -T 5 --rows 1000000",
        "events -A -H 3 --end 9 --rows 1000000",
        "events -A -B --rows 4",
    ):
        a = fluvio_consume(
            spark, args, sf_dir=SF_DIR, source=src,
            per_partition_offsets=True,
        )
        b = fluvio_consume(spark, args, sf_dir=SF_DIR, source=src)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_integer_timestamp_unit_shared_by_batch_and_stream(spark, tmp_path):
    """ADVICE r7: the batch and streaming readers must agree on the
    unit of an INTEGER timestamp column in a pp log.  The one rule
    (datasource._ts_to_us): int64 = NANOSECONDS since the epoch, for
    every front end — a connector-produced int64-epoch log must not
    read 10^6 apart between batch and stream."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluvio_duck_spark.sources.datasource import (
        FluvioReader,
        FluvioStreamReader,
    )

    d = tmp_path / "intts" / "partition=0"
    d.mkdir(parents=True)
    ns = 1_700_000_000_123_456_789  # 2023-11-14T22:13:20.123456789Z
    pq.write_table(
        pa.table({
            "offset": pa.array([0, 1], pa.int64()),
            "timestamp": pa.array([ns, ns + 10**9], pa.int64()),
            "value": pa.array(["a", "b"]),
        }),
        str(d / "part-0.parquet"),
    )
    log_dir = str(tmp_path / "intts")

    batch = FluvioReader({"log_dir": log_dir, "args": "-A -B"})
    (bp,) = batch.partitions()
    batch_rows = [r for b in batch.read(bp) for r in b.to_pylist()]

    stream = FluvioStreamReader({"log_dir": log_dir})
    parts = stream.partitions(stream.initialOffset(), stream.latestOffset())
    stream_rows = [r for p in parts for b in stream.read(p) for r in b.to_pylist()]

    want = dt.datetime(2023, 11, 14, 22, 13, 20, 123456)
    assert [r["timestamp"] for r in batch_rows] == [
        r["timestamp"] for r in stream_rows
    ]
    assert batch_rows[0]["timestamp"].replace(tzinfo=None) == want


def test_consume_sql_log_dir_mapped_tail_not_truncated(spark, pp_source, log_dir):
    """A mapped statement with a tail anchor through the SQL×log_dir
    bind must see the WHOLE per-partition log: the raw DataSource
    source underneath the builder re-bind must not carry the reference
    CLI's default --rows 1000 budget (which would silently truncate
    every partition to its first 1000 offsets and shift the tails)."""
    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.sql import consume_sql

    stmt = ("SELECT kk FROM fluvio_consume("
            "'events -A -T 40 --rows 1000000 -c kk:i=k')")
    via_sql = sorted(
        r.kk for r in consume_sql(spark, stmt, sf_dir=SF_DIR,
                                  log_dir=log_dir).collect()
    )
    via_builder = sorted(
        r.kk for r in fluvio_consume(
            spark, "events -A -T 40 --rows 1000000 -c kk:i=k",
            sf_dir=SF_DIR, source=pp_source, per_partition_offsets=True,
        ).collect()
    )
    assert via_sql == via_builder and len(via_sql) == 160


def test_datasource_rejects_engine_side_args(spark, log_dir):
    """The DataSource is the raw connector scan: -c mappings and
    transform chains must be rejected loudly (they were silently
    ignored before — the ADVICE r7 divergence class), with the error
    pointing at the builder re-bind."""
    import pytest as _pytest

    from fluvio_duck_spark.sources.datasource import FluvioReader

    for args in ("-A -B -c kk:i=k",
                 "-A -B --smartmodule sql-filter"):
        with _pytest.raises(Exception, match="engine-side"):
            FluvioReader({"log_dir": log_dir, "args": args})


def test_stream_reader_rejects_args_option(log_dir):
    """The streaming reader must reject an 'args' option loudly (offset
    positioning lives in the checkpoint cursor; pipelines bind via
    fluvio_consume_stream) — not silently ignore it."""
    from fluvio_duck_spark.sources.datasource import FluvioStreamReader

    with pytest.raises(ValueError, match="no 'args' option"):
        FluvioStreamReader({"log_dir": log_dir, "args": "-H 50"})


def test_throttled_stream_picks_up_new_partition(spark, log_dir, tmp_path):
    """A partition directory that appears mid-stream must enter the
    throttled cursor map and be consumed from offset 0 — not silently
    never advance."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluvio_duck_spark.sources.datasource import FluvioStreamReader

    ld = str(tmp_path / "grow_parts")
    shutil.copytree(log_dir, ld)
    r = FluvioStreamReader(
        {"log_dir": ld, "max_rows_per_batch": "100",
         "throttle_rows_per_trigger": "100"}
    )
    pos = r.initialOffset()
    assert set(pos) == {"0", "1", "2", "3"}
    nxt = r.latestOffset()
    seen = _fetch_range(r, pos, nxt)
    pos = nxt

    # a 5th partition appears while the stream is live
    import os
    os.makedirs(ld + "/partition=4")
    pq.write_table(
        pa.table({
            "offset": pa.array(range(30), pa.int64()),
            "timestamp": pa.array(
                [1_700_000_000_000_000 + i for i in range(30)],
                pa.timestamp("us"),
            ),
            "value": pa.array(['{"k": 2}'] * 30),
        }),
        ld + "/partition=4/part-0.parquet",
    )
    for _ in range(20):
        nxt = r.latestOffset()
        if nxt == pos:
            break
        seen.extend(_fetch_range(r, pos, nxt))
        pos = nxt
    p4 = sorted(row[0] for row in seen if row[2] == 4)
    assert p4 == list(range(30))  # consumed from 0, exactly once


def test_batch_reader_chunks_partition_windows(spark, log_dir):
    """Batch scan parallelism must exceed n_partitions: each partition's
    resolved offset window splits into max_rows_per_task chunks (at
    100 TB one partition log is far bigger than one task), and the
    chunked read equals the unchunked read exactly.  Pinned-partition
    local top-n stays one task by construction."""
    from fluvio_duck_spark.sources.datasource import FluvioReader

    leos = {0: 273, 1: 232, 2: 289, 3: 206}

    def read_all(reader):
        return sorted(
            tuple(d.values())
            for p in reader.partitions()
            for b in reader.read(p)
            for d in b.to_pylist()
        )

    big = FluvioReader({"log_dir": log_dir, "args": "-A -B --rows 1000000"})
    small = FluvioReader({"log_dir": log_dir, "args": "-A -B --rows 1000000",
                          "max_rows_per_task": "100"})
    nparts = len(small.partitions())
    assert nparts == sum(-(-leo // 100) for leo in leos.values())  # 11
    assert len(big.partitions()) == 4
    assert read_all(small) == read_all(big)

    # chunk windows tile each partition's [0, LEO-1] exactly
    spans = {}
    for p in small.partitions():
        spans.setdefault(p.pid, []).append((p.lo, p.hi))
    for pid, leo in leos.items():
        tiles = sorted(spans[pid])
        assert tiles[0][0] == 0 and tiles[-1][1] == leo
        assert all(b[0] == a[1] for a, b in zip(tiles, tiles[1:]))

    # pp mode: a pinned --rows is ARITHMETIC (dense offsets → exact
    # window), so it chunks like any window and still reads exactly 7
    pinned = FluvioReader({"log_dir": log_dir, "args": "-p 2 -B --rows 7",
                           "max_rows_per_task": "3"})
    assert len(pinned.partitions()) == 3
    assert [d["offset"] for p in pinned.partitions()
            for b in pinned.read(p) for d in b.to_pylist()] == list(range(7))

    # sf_dir mode: a pinned --rows is a LOCAL TOP-N over a sparse
    # selection — must stay one task regardless of the granule
    sparse = FluvioReader({"sf_dir": SF_DIR, "args": "-p 2 -B --rows 7",
                           "max_rows_per_task": "3"})
    assert len(sparse.partitions()) == 1


def test_stream_throttle_restart_never_replans_delivered(spark, log_dir):
    """ADVICE r8 (medium): the throttle cursor lives only in driver
    memory, so a FRESH reader instance (= checkpointed restart) returns
    a first latestOffset() BELOW the committed start, and Spark logs
    that regressed end.  The reader must re-learn the true position
    from the planned range (partitions' start IS the checkpoint) and
    floor later plans at it: across the kill, every offset is delivered
    exactly once — the regression never re-plans pre-kill ranges."""
    from collections import Counter

    from fluvio_duck_spark.sources.datasource import FluvioStreamReader

    opts = {"log_dir": log_dir, "max_rows_per_batch": "100",
            "throttle_rows_per_trigger": "100"}
    r1 = FluvioStreamReader(dict(opts))
    pos = r1.initialOffset()
    delivered = []
    for _ in range(2):  # two committed triggers, then the kill
        nxt = r1.latestOffset()
        delivered.extend(_fetch_range(r1, pos, nxt))
        r1.commit(nxt)
        pos = nxt
    committed = pos
    assert all(int(v) > 0 for v in committed.values())

    # restart: new instance; all batches committed, so Spark calls
    # latestOffset FIRST — the regressed result lands in its offset log
    r2 = FluvioStreamReader(dict(opts))
    regressed = r2.latestOffset()
    assert any(int(regressed[k]) < int(committed[k]) for k in committed)
    # Spark plans (committed → regressed): nothing may be delivered, and
    # the reader learns the true position from the range's start
    assert _fetch_range(r2, committed, regressed) == []
    # subsequent triggers: Spark's start is the regressed logged end —
    # the floor must keep every planned offset at/above the committed one
    pos = regressed
    for _ in range(40):
        nxt = r2.latestOffset()
        if nxt == pos:
            break
        batch = _fetch_range(r2, pos, nxt)
        for row in batch:
            assert row[0] >= int(committed[str(row[2])]), (
                f"offset {row[0]} of partition {row[2]} re-planned below "
                f"committed {committed[str(row[2])]}"
            )
        delivered.extend(batch)
        r2.commit(nxt)
        pos = nxt

    # exactly-once across the kill: dense per-partition ranges, no dup/loss
    per = Counter(row[2] for row in delivered)
    assert per == {0: 273, 1: 232, 2: 289, 3: 206}
    for pid, n in per.items():
        offs = sorted(row[0] for row in delivered if row[2] == pid)
        assert offs == list(range(n))


def test_stream_reader_rejects_nonpositive_granules(log_dir):
    """ADVICE r8: a zero/negative granule or throttle must fail loudly
    at option-parse time, not as an opaque range() error at plan time."""
    import pytest

    from fluvio_duck_spark.sources.datasource import FluvioStreamReader

    with pytest.raises(ValueError, match="max_rows_per_batch"):
        FluvioStreamReader({"log_dir": log_dir, "max_rows_per_batch": "0"})
    with pytest.raises(ValueError, match="throttle_rows_per_trigger"):
        FluvioStreamReader(
            {"log_dir": log_dir, "throttle_rows_per_trigger": "-3"}
        )


def test_batch_reader_rejects_nonpositive_task_granule(log_dir):
    import pytest

    from fluvio_duck_spark.sources.datasource import FluvioReader

    with pytest.raises(ValueError, match="max_rows_per_task"):
        FluvioReader({"log_dir": log_dir, "args": "-A -B --rows 10",
                      "max_rows_per_task": "0"})


def test_skewed_partition_drain_chunks_to_granule(tmp_path):
    """r8 verdict "Next round" #6: the granule-chunking claim under SKEW
    ("scan parallelism at the cluster's even when one trigger drains a
    large backlog").  One partition is 100× the others; a single
    trigger's plan must split each partition's window into exactly
    ceil(span / granule) tasks, every task must carry ≤ granule rows,
    and the drained union must be each partition's dense log — the hot
    partition cannot serialize into one giant task."""
    import math
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluvio_duck_spark.sources.datasource import FluvioStreamReader

    sizes = {0: 5000, 1: 50, 2: 50}
    log_dir = str(tmp_path / "skewlog")
    for pid, n in sizes.items():
        d = os.path.join(log_dir, f"partition={pid}")
        os.makedirs(d)
        pq.write_table(
            pa.table({
                "offset": pa.array(range(n), pa.int64()),
                "timestamp": pa.array([1_000_000 * i for i in range(n)],
                                      pa.timestamp("us")),
                "value": pa.array([f'{{"k": {i % 100}}}' for i in range(n)]),
            }),
            os.path.join(d, "part-00000.parquet"),
        )

    granule = 500
    r = FluvioStreamReader(
        {"log_dir": log_dir, "max_rows_per_batch": str(granule)}
    )
    start = r.initialOffset()
    end = r.latestOffset()  # unthrottled: the whole backlog in ONE trigger
    assert end == {str(p): n for p, n in sizes.items()}
    parts = r.partitions(start, end)
    per_pid: dict[int, list] = {}
    for p in parts:
        per_pid.setdefault(p.pid, []).append(p)
    # task count per partition = ceil(span / granule): 10 + 1 + 1
    assert {pid: len(ps) for pid, ps in per_pid.items()} == {
        pid: math.ceil(n / granule) for pid, n in sizes.items()
    }
    # balanced: every task's window spans ≤ granule rows, and the hot
    # partition's tasks are all exactly granule-sized (no straggler task
    # carrying the whole backlog)
    for pid, ps in per_pid.items():
        spans = sorted(p.hi - p.lo for p in ps)
        assert max(spans) <= granule
        if sizes[pid] > granule:
            assert spans == [granule] * len(ps)
    # the drain itself: per-partition dense ranges, row counts = spans
    for pid, ps in per_pid.items():
        rows = []
        for p in ps:
            got = [d["offset"] for b in r.read(p) for d in b.to_pylist()]
            assert len(got) <= granule
            rows.extend(got)
        assert sorted(rows) == list(range(sizes[pid]))


def test_scratch_lock_staleness_not_total_wait(tmp_path):
    """Waiters must distinguish a LIVE builder (lock mtime keeps moving —
    wait past any total-time budget) from a CRASHED one (stale mtime —
    raise).  The r9 total-wall-time deadline failed healthy concurrent
    shards whenever a big fixture build outlived the budget (advice r9)."""
    import os
    import threading
    import time

    from fluvio_duck_spark.sources import pplog

    root = str(tmp_path / "scratch")
    lock = root + ".lock"

    # 1. live builder: holds the lock longer than timeout_s but
    # heartbeats; the waiter must succeed, not TimeoutError.
    release = threading.Event()

    def slow_build():
        os.makedirs(root, exist_ok=True)  # a real build materializes root
        release.wait(10.0)

    t = threading.Thread(
        target=pplog._build_scratch_once,
        args=(root, "k1", slow_build),
        kwargs={"timeout_s": 0.8},
        daemon=True,
    )
    hb_orig = pplog._LOCK_HEARTBEAT_S
    pplog._LOCK_HEARTBEAT_S = 0.1
    try:
        t.start()
        while not os.path.exists(lock):
            time.sleep(0.01)
        time.sleep(1.2)  # already past timeout_s of total wall time
        release.set()
        done: list[str] = []
        pplog._build_scratch_once(root, "k1", lambda: done.append("ran"),
                                  timeout_s=0.8)
        t.join(5.0)
        assert done == []  # builder's marker satisfied the waiter
        assert open(os.path.join(root, "_READY")).read() == "k1"

        # 2. crashed builder: a lock nobody touches goes stale -> raise.
        os.remove(os.path.join(root, "_READY"))
        with open(lock, "w"):
            pass
        old = time.time() - 5.0
        os.utime(lock, (old, old))
        with pytest.raises(TimeoutError, match="stale"):
            pplog._build_scratch_once(root, "k2", lambda: None, timeout_s=0.8)
    finally:
        pplog._LOCK_HEARTBEAT_S = hb_orig
