"""Streaming-mode queries (SURVEY §2.11) run to bounded completion by
``streaming.consume_stream.drain`` (``Trigger.AvailableNow``) into a memory
sink or a ``foreachBatch`` function, so the driver's batch correctness
harness can hash-compare them against ANSI oracles.

Each entry exercises a *streaming* plan — file-stream source, watermarks,
event-time windows, state-store folds — but over the same bounded fixture,
which is exactly the reference's default consume mode (read to the end of
the log, then stop; SURVEY §1.4.5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fluvio_duck_spark.queries import QuerySpec
from fluvio_duck_spark.queries.relational import (
    ORACLE_ASOF,
    ORACLE_ROLLUP_HIST,
    ORACLE_ROLLUP_HOURLY,
)
from fluvio_duck_spark.queries.pipeline import ORACLE_CDC as ORACLE_STREAM_CDC
from fluvio_duck_spark.queries.relational import ORACLE_OHLC as ORACLE_STREAM_OHLC
from fluvio_duck_spark.sources.consume import fluvio_consume
from fluvio_duck_spark.streaming.consume_stream import (
    drain,
    event_stream,
    fluvio_consume_stream,
    record_log_stream,
    run_stream_to_table,
)
from fluvio_duck_spark.streaming.stateful import aggregate_fold_stream
from fluvio_duck_spark.streaming.windows import (
    session_window_agg,
    stream_dedup_keys,
    tumbling_window_agg,
)

_DEFAULT_COLS = 'event_id AS "offset", ts AS "timestamp", props AS "value"'


def _run_dir(name: str, kind: str) -> str:
    """Scratch dir for a streaming run's sink/checkpoint/index.

    Deterministic per (query, kind) under ONE per-process root: a re-run
    (bench loops the same query) wipes and reuses its own dir instead of
    leaking a fresh ``/tmp/<name>_<uuid>`` per invocation, and the root
    is removed at interpreter exit — /tmp stays bounded across
    bench/verify sessions (ADVICE r5).  Wiping at query start also keeps
    the fresh-checkpoint contract: a reused checkpoint would mark the
    source files committed and deliver ZERO batches on a re-run.  The
    returned report DataFrames stay lazy scans over the current run's
    dir — nothing is collected to the driver.

    SINGLE-INVOCATION CONTRACT (ADVICE r6): the path is deterministic
    per (name, kind) within a process, so two CONCURRENT invocations of
    the same streaming query in one process (e.g. parallel test workers
    sharing a session) would clobber each other's live checkpoint/sink.
    The bench/verify/driver harnesses are all sequential; a future
    parallel harness must add a per-call suffix here."""
    import atexit
    import os
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(), f"fluvio_duck_stream_runs_{os.getpid()}"
    )
    if not os.path.isdir(root):
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = os.path.join(root, f"{name}_{kind}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def q_stream_consume_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = fluvio_consume_stream(
        spark, "events -A -H 100 --end 699 -c k:i=k -c kd:d=k", sf_dir=sf_dir
    )
    return run_stream_to_table(stream, spark, drain_paths=_events_paths(sf_dir))


ORACLE_STREAM_PARITY = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS kd
FROM events WHERE event_id >= 100 AND event_id <= 699
"""


def _tbl_paths(sf_dir: str, name: str) -> tuple:
    """Drain-source byte-sizing paths for a fixture-table stream."""
    import os

    return (os.path.join(sf_dir, f"{name}.parquet"),)


def _events_paths(sf_dir: str) -> tuple:
    """The drain-source byte-sizing paths for events-log streams."""
    return _tbl_paths(sf_dir, "events")


def _task_granule(leos) -> str:
    """``max_rows_per_batch`` for a fluvio stream drain, from the log end
    of each cursor key (``leos``: a partition's LEO, or the stand-in's
    one global LEO): about 4 executor-side range reads per cursor key
    at every scale factor, floor 50 — a fixed granule makes the task
    count grow linearly with the log."""
    return str(max(50, -(-max(leos) // 4)))


def q_stream_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = record_log_stream(spark, sf_dir)
    agg = tumbling_window_agg(stream, window="6 hours", watermark="12 hours")
    return run_stream_to_table(
        agg, spark, output_mode="complete", drain_paths=_events_paths(sf_dir)
    )


ORACLE_TUMBLING = """
SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)) AS TIMESTAMP)
         AS window_start,
       CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 + 21600 AS BIGINT)) AS TIMESTAMP)
         AS window_end,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def q_stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (6h size / 3h slide): each event lands in exactly
    size/slide = 2 windows; the oracle enumerates both per event."""
    stream = record_log_stream(spark, sf_dir)
    agg = tumbling_window_agg(stream, window="6 hours", slide="3 hours",
                              watermark="12 hours")
    return run_stream_to_table(agg, spark, output_mode="complete", drain_paths=_events_paths(sf_dir))


ORACLE_SLIDING = """
WITH e AS (SELECT epoch(ts) AS ep FROM events),
w AS (
  SELECT ep, (CAST(floor(ep / 10800) AS BIGINT) - n) * 10800 AS ws
  FROM e, unnest(range(0, 2)) AS t(n)
  WHERE (CAST(floor(ep / 10800) AS BIGINT) - n) * 10800 + 21600 > ep)
SELECT CAST(to_timestamp(ws) AS TIMESTAMP) AS window_start,
       CAST(to_timestamp(ws + 21600) AS TIMESTAMP) AS window_end,
       COUNT(*) AS n
FROM w GROUP BY 1, 2
"""


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = record_log_stream(spark, sf_dir)
    agg = session_window_agg(stream, gap="1 hour", watermark="2 hours", key_col="partition")
    return run_stream_to_table(agg, spark, output_mode="complete", drain_paths=_events_paths(sf_dir))


ORACLE_SESSION = """
WITH e AS (
  SELECT CAST(user_id % 4 AS INTEGER) AS p, ts, event_id FROM events),
m AS (
  SELECT p, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY p ORDER BY ts, event_id)),
s AS (
  SELECT p, ts,
    SUM(new_s) OVER (PARTITION BY p ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m)
SELECT p AS "partition", min(ts) AS session_start,
       max(ts) + INTERVAL 1 HOUR AS session_end, COUNT(*) AS n
FROM s GROUP BY p, sid
"""


def q_stream_stateful_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = record_log_stream(spark, sf_dir)
    folded = aggregate_fold_stream(stream, initial=0, json_field="k")
    return run_stream_to_table(folded, spark, output_mode="update", drain_paths=_events_paths(sf_dir))


ORACLE_STATEFUL_FOLD = """
SELECT CAST(user_id % 4 AS INTEGER) AS "partition",
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS acc,
       COUNT(*) AS n_records
FROM events GROUP BY 1
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on the payload key: the surviving key set
    equals batch DISTINCT (which record survives per key is a micro-batch
    race, so only keys are emitted — deterministic either way)."""
    from pyspark.sql import functions as F

    stream = record_log_stream(spark, sf_dir).withColumn(
        "k",
        F.get_json_object(F.col("value"), "$.k").try_cast("int"),
    )
    deduped = stream_dedup_keys(stream, ["k"], watermark="30 days")
    return run_stream_to_table(deduped, spark, output_mode="append", drain_paths=_events_paths(sf_dir))


ORACLE_STREAM_DEDUP = """
SELECT DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


def q_consume_infer_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-inference extension (SURVEY §1.2): consume the default
    (offset, timestamp, value) schema, infer the payload's JSON schema
    from a bounded sample, expand to typed columns via from_json."""
    from fluvio_duck_spark.mappings import expand_value

    df = fluvio_consume(spark, "events -A -B --rows 1000000", sf_dir=sf_dir)
    return expand_value(df.select("offset", "value"))


ORACLE_INFER = """
SELECT event_id AS "offset",
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    click→purchase attribution within 1 hour.  Both sides carry
    watermarks, so the join state for clicks older than the horizon is
    dropped — the unbounded-stream-safe formulation.  The oracle is the
    equivalent batch range join."""
    from pyspark.sql import functions as F

    ev = event_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    purchases = (
        event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("click_id", "purchase_id")
    return run_stream_to_table(joined, spark, output_mode="append", drain_paths=_events_paths(sf_dir))


ORACLE_STREAM_STREAM_JOIN = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def q_stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus curation: arriving documents are MinHash-banded
    in-row (stateless) and gated against the batch corpus's LSH band
    index via a broadcast stream-static join.  Rows-only (xxhash64-based);
    exact parity with the batch candidate pairs is asserted in
    tests/test_streaming.py."""
    from fluvio_duck_spark.operators.dedup import band_buckets, minhash_signatures
    from fluvio_duck_spark.sources.tables import load
    from fluvio_duck_spark.streaming.neardup import (
        document_stream,
        stream_neardup_gate,
    )

    corpus = load(spark, sf_dir, "documents")
    index = band_buckets(minhash_signatures(corpus))
    gated = stream_neardup_gate(document_stream(spark, sf_dir), index)
    return run_stream_to_table(
        gated, spark, output_mode="append",
        drain_paths=_tbl_paths(sf_dir, "documents"),
    )


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each streaming event is enriched with a
    *batch-computed* dimension (its type's corpus-wide average value) via
    a broadcast join — no streaming state at the join, the canonical
    lookup/enrichment topology.  Downstream counts events beating their
    type average.  The static side uses exact decimal averaging so both
    engines agree bit-for-bit on the comparison threshold."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.functions.exact import davg
    from fluvio_duck_spark.sources.tables import load

    dim = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("et"))
        .agg(davg("value").alias("type_avg"))
    )
    ev = event_stream(spark, sf_dir)
    enriched = (
        ev.join(F.broadcast(dim), ev.event_type == F.col("et"))
        .filter(F.col("value") > F.col("type_avg"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_above"))
    )
    return run_stream_to_table(enriched, spark, output_mode="complete", drain_paths=_events_paths(sf_dir))


ORACLE_STREAM_STATIC = """
WITH dim AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS type_avg
  FROM events GROUP BY event_type)
SELECT e.event_type, COUNT(*) AS n_above
FROM events e JOIN dim USING (event_type)
WHERE e.value > dim.type_avg
GROUP BY e.event_type
"""


def q_consume_aggregate_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch A1: the aggregate-kind smartmodule folding payload values in
    offset order with a seeded accumulator (reference --aggregate-initial,
    src/consume.rs:511-513,:687-695)."""
    return fluvio_consume(
        spark,
        "events -A -B --rows 200 --smartmodule sum-aggregate "
        "--aggregate-initial 1000 -e field=k -e global=true",
        sf_dir=sf_dir,
    )


ORACLE_AGGREGATE_FOLD = f"""
SELECT {_DEFAULT_COLS.replace('props AS "value"', '')}
       CAST(1000 + SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS VARCHAR) AS "value"
FROM events ORDER BY event_id LIMIT 200
"""


def q_consume_aggregate_fold_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1, per-SPU form: ``-e partitioned=true`` folds each partition's
    log independently — the reference's actual semantics when every SPU
    runs the aggregate over its own partition (src/consume.rs:687-695),
    and the scale form of the fold: the window shuffle is keyed by
    partition, so the fold parallelizes across partitions instead of
    funneling the log through one task."""
    return fluvio_consume(
        spark,
        "events -A -B --rows 200 --smartmodule sum-aggregate "
        "--aggregate-initial 1000 -e field=k -e partitioned=true",
        sf_dir=sf_dir,
    )


ORACLE_AGGREGATE_FOLD_PARTITIONED = f"""
SELECT {_DEFAULT_COLS.replace('props AS "value"', '')}
       CAST(1000 + SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            OVER (PARTITION BY user_id % 4
                  ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS VARCHAR) AS "value"
FROM events ORDER BY event_id LIMIT 200
"""


def q_stream_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained hourly rollup: streaming twin of
    rollup_hourly with identical mergeable state — shares that query's
    oracle, proving the stream-maintained aggregate equals a batch
    GROUP BY over raw."""
    from fluvio_duck_spark.operators.rollup import Measure, finalize_rollup
    from fluvio_duck_spark.streaming.windows import stream_rollup

    m = [
        Measure("total", "value", "sum"),
        Measure("n", "value", "count"),
        Measure("lo", "value", "min"),
        Measure("hi", "value", "max"),
        Measure("avg_value", "value", "avg"),
    ]
    agg = stream_rollup(
        event_stream(spark, sf_dir), 3600, ["event_type"], m,
        watermark="12 hours",
    )
    return finalize_rollup(
        run_stream_to_table(agg, spark, output_mode="complete", drain_paths=_events_paths(sf_dir)), m
    )


def q_stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of enrichment: the click stream joins the
    batch-maintained purchase history as BROADCAST VALIDITY INTERVALS
    (operators/asof.py::scd2_intervals — the streaming use of the SCD-2
    build): key-equi broadcast join + interval residual, so the join
    holds ZERO streaming state, the topology that enriches an unbounded
    stream against a slowly-changing dimension.  Shares join_asof's
    DuckDB ASOF oracle — batch merge, broadcast batch, and streaming
    broadcast all hash-identical."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.asof import scd2_intervals
    from fluvio_duck_spark.sources.tables import load

    purchases = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            "ts",
            F.col("event_id").alias("purchase_event"),
            F.col("value").alias("purchase_value"),
        )
    )
    dim = scd2_intervals(
        purchases, key="p_user", time="ts",
        payload=["purchase_event", "purchase_value"],
    )
    clicks = event_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select("event_id", "user_id", "ts")
    enriched = clicks.join(
        F.broadcast(dim),
        (clicks.user_id == dim.p_user)
        & (clicks.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (clicks.ts < dim.valid_to)),
        "left",
    ).select("event_id", "user_id", "ts", "purchase_event", "purchase_value")
    return run_stream_to_table(enriched, spark, output_mode="append", drain_paths=_events_paths(sf_dir))


def q_stream_rollup_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained daily quantiles: the stream holds hist
    bin-count arrays as its aggregation state (mergeable, so complete-mode
    re-emission is exact); shares rollup_hist_percentiles' machinery at
    daily granularity with its own oracle — stream-maintained histogram
    state must equal a batch histogram over the full log."""
    from fluvio_duck_spark.operators.rollup import Measure, finalize_rollup
    from fluvio_duck_spark.streaming.windows import stream_rollup

    m = [
        Measure("v", "value", "hist", lo=0.0, hi=500.0, nbuckets=50,
                pcts=(0.5, 0.95)),
        Measure("n", "value", "count"),
    ]
    agg = stream_rollup(
        event_stream(spark, sf_dir), 86400, ["event_type"], m,
        watermark="48 hours",
    )
    return finalize_rollup(
        run_stream_to_table(agg, spark, output_mode="complete", drain_paths=_events_paths(sf_dir)), m
    )


def q_stream_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained compacted view: the same max_by keyed-state
    aggregate as consume_compact_latest running under Structured
    Streaming (complete mode — state is one row per key, the compacted
    table itself).  Shares the batch query's oracle: the stream-maintained
    current state must equal compaction over the full log."""
    from fluvio_duck_spark.operators.compaction import compact_latest

    compacted = compact_latest(
        event_stream(spark, sf_dir),
        keys=["user_id"],
        order_by=["ts", "event_id"],
        payload=["ts", "event_type", "value"],
    )
    return run_stream_to_table(compacted, spark, output_mode="complete", drain_paths=_events_paths(sf_dir))


from fluvio_duck_spark.queries.consume_queries import ORACLE_COMPACT  # noqa: E402


QUERIES: dict[str, QuerySpec] = {
    "stream_compact_latest": QuerySpec(
        q_stream_compact,
        ORACLE_COMPACT,  # shared with batch consume_compact_latest
        doc="continuously-maintained compacted key state (streaming twin of consume_compact_latest)"),
    "stream_consume_parity": QuerySpec(
        q_stream_consume_parity, ORACLE_STREAM_PARITY,
        doc="readStream consume pipeline, AvailableNow bounded parity — ST1"),
    "stream_static_enrich": QuerySpec(
        q_stream_static_enrich, ORACLE_STREAM_STATIC,
        doc="stream-static broadcast enrichment join (batch dim into the stream)"),
    "stream_neardup_gate": QuerySpec(
        q_stream_neardup_gate, None,
        doc="streaming near-dup gate: row-wise MinHash vs static LSH index (batch-parity-tested)"),
    "stream_tumbling_windows": QuerySpec(
        q_stream_tumbling_windows, ORACLE_TUMBLING,
        doc="event-time tumbling windows + watermark — ST6"),
    "stream_sliding_windows": QuerySpec(
        q_stream_sliding_windows, ORACLE_SLIDING,
        doc="sliding event-time windows (6h/3h) — ST6"),
    "stream_session_windows": QuerySpec(
        q_stream_session_windows, ORACLE_SESSION,
        doc="session windows (gap merge) — ST6"),
    "stream_stateful_fold": QuerySpec(
        q_stream_stateful_fold, ORACLE_STATEFUL_FOLD,
        doc="applyInPandasWithState accumulator fold — A1 streaming"),
    "consume_aggregate_fold": QuerySpec(
        q_consume_aggregate_fold, ORACLE_AGGREGATE_FOLD,
        doc="aggregate smartmodule with seeded accumulator — A1 batch"),
    "consume_aggregate_fold_partitioned": QuerySpec(
        q_consume_aggregate_fold_partitioned, ORACLE_AGGREGATE_FOLD_PARTITIONED,
        doc="per-partition aggregate fold (per-SPU semantics under -A) — A1 scale form"),
    "stream_dedup_keys": QuerySpec(
        q_stream_dedup, ORACLE_STREAM_DEDUP,
        doc="streaming exact dedup (dropDuplicatesWithinWatermark)"),
    "stream_rollup_hourly": QuerySpec(
        q_stream_rollup_hourly, ORACLE_ROLLUP_HOURLY,  # shared with batch rollup_hourly
        doc="continuously-maintained hourly hypertable rollup (streaming twin of rollup_hourly)"),
    "stream_rollup_hist": QuerySpec(
        q_stream_rollup_hist, ORACLE_ROLLUP_HIST,  # shared with batch hist rollup
        doc="continuously-maintained daily quantiles from mergeable histogram state"),
    "stream_asof_enrich": QuerySpec(
        q_stream_asof_enrich, ORACLE_ASOF,  # shared with batch as-of joins
        doc="streaming as-of enrichment vs broadcast SCD-2 intervals (stateless join)"),
    "stream_stream_join": QuerySpec(
        q_stream_stream_join, ORACLE_STREAM_STREAM_JOIN,
        doc="watermarked stream-stream join with event-time range bound"),
    "consume_infer_typed": QuerySpec(
        q_consume_infer_typed, ORACLE_INFER,
        doc="JSON schema inference + from_json expansion (extension)"),
}


def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE twin of ``cdc_apply_latest``: the change feed is
    re-sharded into ts-ordered files (the CDC-log ordering contract —
    correctness must not depend on the fixture's file layout), streamed
    one file per trigger, and foreachBatch-merged into a versioned
    state table.  Shares the batch oracle: the incrementally maintained
    state must hash-match the one-shot MERGE."""
    import tempfile

    from pyspark.sql import functions as F

    from fluvio_duck_spark.sources.tables import load
    from fluvio_duck_spark.streaming.cdc_stream import run_stream_cdc

    ev = load(spark, sf_dir, "events")
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
    # session-scoped workdir keyed by the sf dir: re-invocations replace
    # it instead of leaking a fresh mkdtemp per run (feed + state +
    # checkpoint are all rebuilt, so /tmp usage stays bounded)
    import os
    import shutil

    work = os.path.join(
        tempfile.gettempdir(),
        "fluvio_duck_stream_cdc",
        os.path.basename(sf_dir.rstrip("/")),
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    bounds = [("2024-01-22", "2024-01-25"), ("2024-01-25", "2024-01-28"),
              ("2024-01-28", "2024-02-01")]
    for i, (lo, hi) in enumerate(bounds):
        (changes.filter((F.col("ts") >= F.lit(lo).cast("timestamp"))
                        & (F.col("ts") < F.lit(hi).cast("timestamp")))
         .coalesce(1).write.parquet(f"{work}/feed/b{i}"))
    stream = (
        spark.readStream.schema(changes.schema).format("parquet")
        .option("maxFilesPerTrigger", "1").load(work + "/feed/b*")
    )
    return run_stream_cdc(
        spark, snapshot, stream, "user_id", "ts", "op", ["value"],
        state_dir=work + "/state", tiebreak_col="event_id",
        drain_paths=(work + "/feed",),
    )


QUERIES.update({
    "stream_cdc_apply": QuerySpec(
        q_stream_cdc_apply, ORACLE_STREAM_CDC,
        doc="foreachBatch MERGE of a ts-ordered change feed into versioned state — oracle-shared with cdc_apply_latest",
    ),
})


def q_stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of rollup_ohlc_bars: the identical mergeable
    min_by/max_by candlestick aggregation over the event-time stream in
    complete mode — same operator code, same oracle, third member of
    the batch/stream oracle-sharing family after rollup_hourly and the
    histogram rollup."""
    from fluvio_duck_spark.operators.rollup import ohlc_bars

    stream = event_stream(spark, sf_dir)
    bars = ohlc_bars(
        stream, "ts", "event_id", "value", ["event_type"],
        width_seconds=3600, sum_scale=2,
    )
    return run_stream_to_table(bars, spark, output_mode="complete", drain_paths=_events_paths(sf_dir))


QUERIES.update({
    "stream_ohlc_bars": QuerySpec(
        q_stream_ohlc_bars, ORACLE_STREAM_OHLC,
        doc="streaming OHLC candlesticks — oracle-shared with rollup_ohlc_bars",
    ),
})


def q_stream_datasource_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The topic as a Spark 4 Python STREAMING DataSource
    (``spark.readStream.format("fluvio")``): the full
    DataSourceStreamReader protocol — driver-side offset cursors, the
    drain planned as granule-sized executor-side range reads (about 4
    tasks at every scale factor, :func:`_task_granule`) — drained to
    the log end and compared per-partition against the batch truth, the
    continuous-mode (-d) twin of ``source_datasource_parity``."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.pplog import pp_footer_leo

    register_fluvio_source(spark)
    leo = pp_footer_leo(os.path.join(sf_dir, "events.parquet"), "event_id")
    s = (
        spark.readStream.format("fluvio")
        .option("topic", "events")
        .option("sf_dir", sf_dir)
        .option("max_rows_per_batch", _task_granule([leo]))
        .load()
    )
    agg = s.groupBy("partition").agg(
        F.count("*").alias("n"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
    )
    return run_stream_to_table(agg, spark, "complete", drain_paths=_events_paths(sf_dir))


ORACLE_STREAM_DATASOURCE = """
SELECT CAST(user_id % 4 AS INTEGER) AS "partition", COUNT(*) AS n,
       MIN(event_id) AS min_offset, MAX(event_id) AS max_offset
FROM events GROUP BY 1
"""


QUERIES.update({
    "stream_datasource_parity": QuerySpec(
        q_stream_datasource_parity, ORACLE_STREAM_DATASOURCE,
        doc="streaming Python DataSource: offset-cursor micro-batches drained to LEO, batch parity",
    ),
})


def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-partition EWMA (α=0.2) of the payload's k field —
    the order-sensitive stateful fold, offset-ordered within each
    micro-batch; bit-identical to the batch in-group fold (window_ewma's
    machinery) because both run the same IEEE recurrence in the same
    order."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.streaming.stateful import ewma_stream

    stream = record_log_stream(spark, sf_dir)
    out = ewma_stream(stream, alpha=0.2, json_field="k")
    res = run_stream_to_table(out, spark, output_mode="update", drain_paths=_events_paths(sf_dir))
    return res.select(
        "partition", "n_records", F.round("ewma", 6).alias("ewma")
    )


ORACLE_STREAM_EWMA = """
WITH h AS (
  SELECT CAST(user_id % 4 AS INTEGER) AS "partition",
         list(CAST(json_extract_string(props, '$.k') AS DOUBLE)
              ORDER BY event_id) AS vals
  FROM events GROUP BY 1)
SELECT "partition", CAST(len(vals) AS BIGINT) AS n_records,
       round(list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ewma
FROM h
"""



from fluvio_duck_spark.queries.quality import (
    ORACLE_TREND_OLS as _ORACLE_TREND_OLS,
)


def q_stream_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained OLS drift fit: streaming twin of
    trend_ols_by_type.  The five sufficient statistics are plain
    mergeable aggregates (integer hours, DECIMAL(18,6) y), so the
    stream-maintained state equals the batch fit BIT-FOR-BIT no matter
    how micro-batches slice the log — shares the batch query's oracle.
    State is one row per event_type; complete-mode output is
    |types|-bounded."""
    from fluvio_duck_spark.queries.quality import (
        ols_finalize,
        ols_sufficient_stats,
    )

    s = ols_sufficient_stats(event_stream(spark, sf_dir))
    return ols_finalize(run_stream_to_table(s, spark, output_mode="complete", drain_paths=_events_paths(sf_dir)))


QUERIES.update({
    "stream_ewma": QuerySpec(
        q_stream_ewma, ORACLE_STREAM_EWMA,
        doc="streaming order-sensitive EWMA via applyInPandasWithState (offset-ordered fold)",
    ),
    "stream_trend_ols": QuerySpec(
        q_stream_trend_ols, _ORACLE_TREND_OLS,  # shared with batch trend_ols_by_type
        doc="continuously-maintained OLS drift fit from mergeable sufficient statistics",
    ),
})


def q_stream_audit_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained corpus audit checksum: the portable
    md5-fold row checksum (functions/checksum.py) summed as a
    complete-mode streaming aggregate.  The fold sum is a commutative
    DECIMAL accumulation — mergeable state — so the running audit equals
    the one-shot batch checksum under ANY micro-batch slicing, and a
    consumer can compare a live ingest against a warehouse copy without
    stopping the stream.  Shares the batch checksum's generated-SQL
    oracle (same weights, same fold)."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.functions.checksum import fold_sum, row_checksum

    cols = ["event_id", "event_type", "user_id"]
    s = event_stream(spark, sf_dir).select(
        row_checksum(cols).alias("rc")
    )
    agg = s.agg(
        F.count("*").alias("n_rows"),
        fold_sum(F.col("rc")).alias("checksum"),
    )
    out = run_stream_to_table(agg, spark, output_mode="complete", drain_paths=_events_paths(sf_dir))
    return out.select(
        F.lit("events").alias("table_name"), "n_rows", "checksum"
    )


def _oracle_stream_checksum() -> str:
    from fluvio_duck_spark.functions.checksum import checksum_sql

    return checksum_sql(
        "events", ["event_id", "event_type", "user_id"], label="events"
    )


QUERIES.update({
    "stream_audit_checksum": QuerySpec(
        q_stream_audit_checksum, _oracle_stream_checksum(),
        doc="continuously-maintained portable corpus checksum (mergeable fold sum; batch-equal under any slicing)",
    ),
})


def q_stream_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained Pareto frontier over a streamed part
    catalog: per micro-batch the DISTRIBUTED local sweep
    (operators/skyline.py) reduces the batch to its own frontier, and
    only that k-bounded frontier reaches the driver to merge+re-sweep
    with the running state — legitimate driver-held state because the
    frontier is the stream's answer, same as a top-k heap.  Skylines are
    mergeable (skyline(A∪B) = skyline(skyline(A) ∪ skyline(B))), so the
    final state equals the batch skyline under any micro-batch slicing.
    Shares pareto_skyline's quadratic NOT EXISTS oracle."""
    import os

    import pandas as pd

    from fluvio_duck_spark.operators.skyline import _sweep, skyline2d

    path = os.path.join(sf_dir, "part.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "part.parquet")
            .load(sf_dir)
        )
    stream = stream.select("p_partkey", "p_retailprice", "p_size")

    state: dict[str, pd.DataFrame] = {}

    # A 2-D frontier is expected O(log n) under random order but is not
    # bounded by construction; cap the per-batch collect so a degenerate
    # (fully-sorted, anti-correlated) input fails loudly instead of
    # hauling a table-sized frontier to the driver (VERDICT r8 wrong #4).
    cap = 100_000

    def apply_batch(batch_df, _batch_id) -> None:
        local = (
            skyline2d(batch_df, "p_retailprice", "p_size")
            .limit(cap + 1).toPandas()
        )
        if len(local) > cap:
            raise RuntimeError(
                f"stream_skyline: per-batch frontier exceeded {cap} rows — "
                "refusing an unbounded driver collect"
            )
        if "f" in state and not state["f"].empty:
            local = pd.concat([state["f"], local], ignore_index=True)
        state["f"] = _sweep(local, "p_retailprice", "p_size")


    drain(
        stream.writeStream.foreachBatch(apply_batch)
        # fresh checkpoint per invocation: a reused location would mark
        # the files committed and deliver ZERO batches on a re-run
        .option("checkpointLocation", _run_dir("skyline", "ckpt")),
        spark, _tbl_paths(sf_dir, "part"),
    )
    return spark.createDataFrame(
        state["f"], "p_partkey long, p_retailprice double, p_size int"
    )


QUERIES.update({
    "stream_skyline": QuerySpec(
        q_stream_skyline,
        None,  # set below to share the batch oracle without import cycles
        doc="continuously-maintained Pareto frontier (mergeable skyline state; batch-equal under any slicing)",
    ),
})


def _wire_stream_skyline_oracle() -> None:
    from fluvio_duck_spark.queries.pipeline import ORACLE_PARETO_SKYLINE

    QUERIES["stream_skyline"] = QuerySpec(
        q_stream_skyline, ORACLE_PARETO_SKYLINE,
        doc=QUERIES["stream_skyline"].doc,
    )


_wire_stream_skyline_oracle()


def q_stream_ivm_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental view maintenance, additive case: the orders
    change feed arrives as a stream of SIGNED rows (+1 inserts for
    %9=4, −1 retractions for %9=2) whose per-group Δ-aggregates are
    continuously maintained in complete mode — signed counts and signed
    DECIMAL sums are the classic retraction-safe streaming-IVM state.
    The serving layer merges the frozen base view (batch, %9≠4) with the
    live Δ state; the result must equal a from-scratch refresh over the
    final relation (the oracle), under any micro-batch slicing (signed
    sums are commutative).  Non-additive measures (min/max) need the
    affected-group recompute — that path is the batch ivm_delta_agg;
    this twin is the state a stream can carry alone."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.ivm import IvmMeasure, agg_state
    from fluvio_duck_spark.sources.tables import load

    path = os.path.join(sf_dir, "orders.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "orders.parquet")
            .load(sf_dir)
        )
    feed = stream.filter(
        (F.col("o_orderkey") % 9 == 4) | (F.col("o_orderkey") % 9 == 2)
    ).select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 9 == 4, F.lit(1))
        .otherwise(F.lit(-1)).alias("sign"),
        F.col("o_totalprice").cast("decimal(28,2)").alias("price"),
    )
    delta = feed.groupBy("o_orderpriority").agg(
        F.sum("sign").alias("dn"),
        F.sum(
            (F.col("sign").cast("decimal(28,2)") * F.col("price"))
            .cast("decimal(28,2)")
        ).alias("ds"),
    )
    dt = run_stream_to_table(
        delta, spark, output_mode="complete",
        drain_paths=_tbl_paths(sf_dir, "orders"),
    )

    base = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 9 != 4)
    view = agg_state(
        base, ["o_orderpriority"],
        [IvmMeasure("n_orders", "o_orderkey", "count"),
         IvmMeasure("total_price", "o_totalprice", "sum")],
    )
    zero_n = F.lit(0).cast("long")
    zero_s = F.lit(0).cast("decimal(28,2)")
    return (
        view.join(dt, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (F.coalesce(F.col("n_orders"), zero_n)
             + F.coalesce(F.col("dn"), zero_n)).alias("n_orders"),
            (F.coalesce(F.col("total_price"), zero_s)
             + F.coalesce(F.col("ds"), zero_s))
            .cast("double").alias("total_price"),
        )
        .filter(F.col("n_orders") > 0)
    )


ORACLE_STREAM_IVM = """
SELECT o_orderpriority,
       COUNT(o_orderkey) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
FROM orders WHERE o_orderkey % 9 <> 2
GROUP BY o_orderpriority
"""


QUERIES.update({
    "stream_ivm_additive": QuerySpec(
        q_stream_ivm_additive, ORACLE_STREAM_IVM,
        doc="streaming IVM: signed Δ-aggregates (retraction-safe state) merged onto the frozen base view ≡ full refresh",
    ),
})


def q_stream_er_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming record-linkage gate: dirty part names arrive as a
    stream and each micro-batch fuzzy-joins (operators/linkage.py)
    against the STATIC clean catalog — per-record matching needs no
    cross-batch state, so the gate is embarrassingly streaming (the same
    shape as stream_neardup_gate).  The dirty feed is derived in-stream
    from the part stream with the same deterministic one-char-drop
    corruption as the batch query, so the accumulated matches equal
    er_fuzzy_join_parts exactly — oracle shared."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.linkage import fuzzy_join
    from fluvio_duck_spark.sources.tables import load

    path = os.path.join(sf_dir, "part.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "part.parquet")
            .load(sf_dir)
        )
    pos = (
        (F.length("p_name") + F.ascii(F.substring("p_name", 1, 1)))
        % F.length("p_name") + 1
    )
    dirty_stream = stream.select(
        F.concat(
            F.col("p_name").substr(F.lit(1), pos - 1),
            F.col("p_name").substr(pos + 1, F.length("p_name") - pos),
        ).alias("dirty_name")
    )
    clean = (
        load(spark, sf_dir, "part")
        .select(F.col("p_name").alias("clean_name")).distinct()
        .localCheckpoint(eager=True)  # static side materialized once
    )

    # Each micro-batch's matches go to a parquet sink, NOT a driver-side
    # list (VERDICT r3 #4): match volume scales with the stream, so
    # accumulating pandas frames on the driver caps at driver memory.
    # The sink append is executor-side and unbounded; the final read-back
    # is a lazy scan.
    out_dir = _run_dir("er_gate", "out")

    def match_batch(batch_df, _bid) -> None:
        out = fuzzy_join(
            clean, batch_df.distinct(), "clean_name", "dirty_name",
            q=3, threshold=0.3,
        ).select("dirty_name", "clean_name", "jaccard")
        out.write.mode("append").parquet(out_dir)

    drain(
        dirty_stream.writeStream.foreachBatch(match_batch)
        .option("checkpointLocation", _run_dir("er_gate", "ckpt")),
        spark, _tbl_paths(sf_dir, "part"),
    )
    out_schema = "dirty_name string, clean_name string, jaccard double"
    if not os.path.isdir(out_dir):  # stream had zero batches
        return spark.createDataFrame([], out_schema)
    # dropDuplicates: a record replayed across micro-batch retries must
    # not double-count (the sink is append-only, so dedup on read).
    return spark.read.schema(out_schema).parquet(out_dir).dropDuplicates()


QUERIES.update({
    "stream_er_gate": QuerySpec(
        q_stream_er_gate,
        None,  # wired to the batch oracle below (import at call time)
        doc="streaming record-linkage gate: per-batch fuzzy join vs the static clean catalog (stateless)",
    ),
})


def _wire_stream_er_oracle() -> None:
    from fluvio_duck_spark.queries.pipeline import ORACLE_ER_FUZZY

    QUERIES["stream_er_gate"] = QuerySpec(
        q_stream_er_gate, ORACLE_ER_FUZZY,
        doc=QUERIES["stream_er_gate"].doc,
    )


_wire_stream_er_oracle()


def q_stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR curation gate: documents arrive as a stream and
    each micro-batch is scored against the FROZEN λ log-ratio table
    (operators/dsir.py::dsir_lambda — ≤256 rows, fit once on the static
    reference corpus, broadcast).  Stateless across batches — a doc's
    bigrams all live in its own row, so per-batch scoring needs no
    cross-batch state; matches append to a parquet sink (never a
    driver-side list — VERDICT r3 #4 pattern) and the accumulated scores
    equal the batch text_dsir_weights exactly, so the oracle is shared.
    This is the production topology for importance-weighted ingest: fit
    λ offline, gate the firehose with a broadcast table."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.dsir import dsir_lambda, dsir_score
    from fluvio_duck_spark.sources.tables import load
    from fluvio_duck_spark.streaming.neardup import document_stream

    lam = dsir_lambda(
        load(spark, sf_dir, "documents"), F.col("lang") == "en"
    ).localCheckpoint(eager=True)  # the frozen model, materialized once

    out_dir = _run_dir("dsir_gate", "out")

    def score_batch(batch_df, _bid) -> None:
        dsir_score(batch_df, lam).write.mode("append").parquet(out_dir)

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", _run_dir("dsir_gate", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )
    out_schema = "doc_id long, n_grams int, dsir_logweight double"
    if not os.path.isdir(out_dir):
        return spark.createDataFrame([], out_schema)
    return spark.read.schema(out_schema).parquet(out_dir).dropDuplicates()


def _wire_stream_dsir_oracle() -> None:
    from fluvio_duck_spark.queries.llm import _oracle_dsir

    QUERIES["stream_dsir_gate"] = QuerySpec(
        q_stream_dsir_gate, _oracle_dsir(),
        doc="streaming DSIR gate: frozen 256-row λ broadcast, per-batch scoring, parquet-sink accumulation ≡ batch weights",
    )


_wire_stream_dsir_oracle()


def q_stream_neardup_gate_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup gate over the PORTABLE MinHash chain — the
    oracle-paired twin of stream_neardup_gate (which stays rows-only on
    xxhash64): arriving docs are banded per micro-batch and joined
    against the static corpus bucket index (broadcast); each match
    reports how many distinct other docs share a band bucket.  Stateless
    across batches (a doc's buckets live in its own batch); matches
    append to a parquet sink; the accumulated result equals the batch
    computation exactly, so the generated oracle replicates it."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.dedup import minhash_portable_buckets
    from fluvio_duck_spark.sources.tables import load
    from fluvio_duck_spark.streaming.neardup import document_stream

    index = (
        minhash_portable_buckets(load(spark, sf_dir, "documents"))
        .select(F.col("doc_id").alias("other"), "band", "bh")
        .localCheckpoint(eager=True)  # static corpus index, built once
    )

    out_dir = _run_dir("ndgate", "out")

    def gate_batch(batch_df, _bid) -> None:
        hits = (
            minhash_portable_buckets(batch_df)
            .join(F.broadcast(index), ["band", "bh"])
            .filter(F.col("doc_id") != F.col("other"))
            .groupBy("doc_id")
            .agg(F.count_distinct("other").cast("int").alias("n_partners"))
        )
        hits.write.mode("append").parquet(out_dir)

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", _run_dir("ndgate", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )
    out_schema = "doc_id long, n_partners int"
    if not os.path.isdir(out_dir):
        return spark.createDataFrame([], out_schema)
    return spark.read.schema(out_schema).parquet(out_dir).dropDuplicates()


def _wire_stream_neardup_portable_oracle() -> None:
    from fluvio_duck_spark.operators.dedup import (
        minhash_portable_gate_oracle_sql,
    )

    QUERIES["stream_neardup_gate_portable"] = QuerySpec(
        q_stream_neardup_gate_portable, minhash_portable_gate_oracle_sql(),
        doc="streaming near-dup gate on the portable MinHash chain: static bucket index broadcast, per-batch banding — oracle-paired",
    )


_wire_stream_neardup_portable_oracle()


def q_stream_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR *selection* (VERDICT r4 #6) — the composition on
    top of stream_dsir_gate: micro-batches are scored against the frozen
    λ broadcast and appended to a parquet sink together with their
    source and token count (the per-doc facts selection needs); when the
    stream drains, the per-source top-10 quota + budget report runs over
    the accumulated sink.  The report is a pure function of the scored
    set, so sink-accumulation ≡ batch curate_dsir_select and the oracle
    is shared.  Production topology: the gate writes the scored firehose
    continuously; the quota report is the cheap periodic reader — no
    cross-batch streaming state anywhere."""
    import os

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from fluvio_duck_spark.functions.text import token_count
    from fluvio_duck_spark.operators.dsir import dsir_lambda, dsir_score
    from fluvio_duck_spark.sources.tables import load
    from fluvio_duck_spark.streaming.neardup import document_stream

    lam = dsir_lambda(
        load(spark, sf_dir, "documents"), F.col("lang") == "en"
    ).localCheckpoint(eager=True)  # frozen model, fit once on the reference corpus

    out_dir = _run_dir("dsir_sel", "out")

    def score_batch(batch_df, _bid) -> None:
        scored = dsir_score(batch_df, lam).join(
            batch_df.select(
                "doc_id", "source", token_count("text").alias("n_tok")
            ),
            "doc_id",
        )
        scored.write.mode("append").parquet(out_dir)

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", _run_dir("dsir_sel", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )
    out_schema = (
        "doc_id long, n_grams int, dsir_logweight double, "
        "source string, n_tok int"
    )
    if not os.path.isdir(out_dir):
        return spark.createDataFrame(
            [], "source string, n_kept int, token_budget bigint, mean_weight double"
        )
    acc = spark.read.schema(out_schema).parquet(out_dir).dropDuplicates(["doc_id"])
    kept = acc.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("source").orderBy(
                F.desc("dsir_logweight"), F.asc("doc_id")
            )
        ),
    ).filter(F.col("rk") <= 10)
    return kept.groupBy("source").agg(
        F.count("*").cast("int").alias("n_kept"),
        F.sum("n_tok").alias("token_budget"),
        (
            F.sum(F.col("dsir_logweight").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("mean_weight"),
    )


def _wire_stream_dsir_select_oracle() -> None:
    from fluvio_duck_spark.queries.llm import _oracle_dsir_select

    QUERIES["stream_dsir_select"] = QuerySpec(
        q_stream_dsir_select, _oracle_dsir_select(),
        doc="streaming DSIR selection: scored-sink accumulation + per-source top-10 quota report — oracle-shared with curate_dsir_select",
    )


_wire_stream_dsir_select_oracle()


def q_stream_decontaminate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark-decontamination gate: the eval set's distinct
    3-gram table is built once from the static fixture (tiny by
    construction — an eval suite) and broadcast; arriving corpus docs are
    screened per micro-batch and leak candidates append to a parquet
    sink with their shared-shingle counts.  Stateless across batches (a
    doc's shingles live in its own row); sink accumulation ≡ batch
    text_decontaminate, so the oracle is shared.  The production
    topology for continuous ingest screening: freeze the eval grams,
    gate the firehose."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.dedup import contamination_report
    from fluvio_duck_spark.sources.tables import load
    from fluvio_duck_spark.streaming.neardup import document_stream

    bench = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .localCheckpoint(eager=True)  # the frozen eval suite
    )

    out_dir = _run_dir("decon_gate", "out")

    def gate_batch(batch_df, _bid) -> None:
        corpus = batch_df.filter(F.col("doc_id") % 97 != 0)
        contamination_report(corpus, bench, k=3).write.mode("append").parquet(
            out_dir
        )

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", _run_dir("decon_gate", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )
    out_schema = "doc_id long, n_shared_grams long"
    if not os.path.isdir(out_dir):
        return spark.createDataFrame([], out_schema)
    return spark.read.schema(out_schema).parquet(out_dir).dropDuplicates()


def _wire_stream_decontaminate_oracle() -> None:
    from fluvio_duck_spark.queries.llm import ORACLE_DECONTAMINATE

    QUERIES["stream_decontaminate_gate"] = QuerySpec(
        q_stream_decontaminate_gate, ORACLE_DECONTAMINATE,
        doc="streaming decontamination gate: frozen eval 3-gram broadcast, per-batch screening — oracle-shared with text_decontaminate",
    )


_wire_stream_decontaminate_oracle()


#: Streaming bloom-gate geometry: reference = every 89th doc; m = 8192
#: positions, k = 3 md5-fold hashes (the sketch_bloom_join_filter
#: family) — the position set stays ≤ 3·|reference| rows, broadcast
#: forever.
_SBG_REF_MOD = 89
_SBG_M = 8192
_SBG_K = 3


def q_stream_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming reference-corpus bloom gate: the O(1)-state
    decontamination topology.  A frozen reference corpus (benchmark /
    already-trained-on set) is summarized ONCE into a k=3, m=8192
    portable bloom over canonical text — ≤ 3·|ref| distinct positions,
    kilobytes broadcast to every executor forever — and the arriving
    document stream is gated per micro-batch: a doc whose 3 positions
    all hit is a PROBABLE member (exact duplicate of a reference text,
    or a deterministic false positive) and gets flagged.

    Contrast with stream_decontaminate_gate (n-gram overlap join —
    catches paraphrase but carries the eval set's gram table): the bloom
    gate is map-only + one broadcast membership join per batch, no
    shuffle, no growth — the shape that screens a firehose against a
    100M-doc reference.  A bloom never false-negatives, so every true
    member is flagged; the audit counts the exact FP overhead.  Output
    one scalar row: n_stream_docs, n_flagged, n_true_members,
    n_false_positives — the oracle rebuilds the identical bitset in SQL
    (md5-fold positions), so the driver hash covers FP behavior
    bit-for-bit."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.dsir import hash_bucket
    from fluvio_duck_spark.sources.tables import load
    from fluvio_duck_spark.streaming.neardup import document_stream

    def positions(textcol):
        return [
            hash_bucket(
                F.concat(textcol, F.lit(f"#bg{h}")), _SBG_M
            )
            for h in range(_SBG_K)
        ]

    docs_static = load(spark, sf_dir, "documents")
    ref = docs_static.filter(F.col("doc_id") % _SBG_REF_MOD == 0)
    bloom = (
        ref.select(F.explode(F.array(*positions(F.col("text")))).alias("pos"))
        .distinct()
        .localCheckpoint(eager=True)  # the frozen sketch
    )

    out_dir = _run_dir("bloom_gate", "out")

    def gate_batch(batch_df, _bid) -> None:
        # the whole firehose flows through — including the leaked
        # reference docs themselves (how benchmark contamination
        # actually arrives); the gate must catch every one
        stream = batch_df
        exploded = stream.select(
            "doc_id",
            F.explode(F.array(*positions(F.col("text")))).alias("pos"),
        )
        hits = (
            exploded.join(F.broadcast(bloom), "pos")
            .groupBy("doc_id")
            .agg(F.count("*").alias("nhit"))
        )
        (
            stream.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                (F.coalesce(F.col("nhit"), F.lit(0)) == _SBG_K)
                .cast("int").alias("flagged"),
            )
            .write.mode("append").parquet(out_dir)
        )

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", _run_dir("bloom_gate", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )
    out_schema = "doc_id long, flagged int"
    if not os.path.isdir(out_dir):
        gated = spark.createDataFrame([], out_schema)
    else:
        gated = spark.read.schema(out_schema).parquet(out_dir).dropDuplicates()
    # exact-truth accounting (batch side): a true member is a stream doc
    # whose text equals some reference text — bloom FPs = flagged − true
    truth = (
        docs_static
        .join(ref.select("text").distinct(), "text", "left_semi")
        .select("doc_id")
        .withColumn("member", F.lit(1))
    )
    return (
        gated.join(truth, "doc_id", "left")
        .agg(
            F.count("*").cast("long").alias("n_stream_docs"),
            F.sum("flagged").cast("long").alias("n_flagged"),
            F.sum(F.coalesce(F.col("member"), F.lit(0)))
            .cast("long").alias("n_true_members"),
            (F.sum("flagged")
             - F.sum(F.coalesce(F.col("member"), F.lit(0))))
            .cast("long").alias("n_false_positives"),
        )
    )


def _oracle_stream_bloom_gate() -> str:
    from fluvio_duck_spark.operators.dsir import hash_bucket_sql

    def pos_sql(expr, h):
        return hash_bucket_sql(f"({expr} || '#bg{h}')", _SBG_M)

    bloom_pos = " UNION ".join(
        f"SELECT {pos_sql('text', h)} AS pos FROM documents "
        f"WHERE doc_id % {_SBG_REF_MOD} = 0"
        for h in range(_SBG_K)
    )
    probe_pos = ", ".join(pos_sql("text", h) for h in range(_SBG_K))
    return f"""
WITH bloom AS ({bloom_pos}),
stream AS (
  SELECT doc_id, text FROM documents),
pp AS (
  SELECT doc_id, unnest([{probe_pos}]) AS pos FROM stream),
hits AS (
  SELECT doc_id, count(*) AS nhit
  FROM pp JOIN bloom USING (pos) GROUP BY doc_id),
flags AS (
  SELECT s.doc_id,
         CASE WHEN coalesce(h.nhit, 0) = {_SBG_K} THEN 1 ELSE 0 END
           AS flagged,
         CASE WHEN s.text IN (SELECT text FROM documents
                              WHERE doc_id % {_SBG_REF_MOD} = 0)
              THEN 1 ELSE 0 END AS member
  FROM stream s LEFT JOIN hits h ON h.doc_id = s.doc_id)
SELECT CAST(count(*) AS BIGINT) AS n_stream_docs,
       CAST(sum(flagged) AS BIGINT) AS n_flagged,
       CAST(sum(member) AS BIGINT) AS n_true_members,
       CAST(sum(flagged) - sum(member) AS BIGINT) AS n_false_positives
FROM flags
"""


QUERIES["stream_bloom_gate"] = QuerySpec(
    q_stream_bloom_gate, _oracle_stream_bloom_gate(),
    doc="streaming reference-corpus bloom gate: kilobyte broadcast "
        "sketch, map-only per-batch membership, exact FP accounting — "
        "the O(1)-state decontamination topology",
)


def q_stream_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality-classifier gate: the literal-ppm-weight linear
    filter (curate_classifier_gate) applied per micro-batch — the
    highest-volume stage of a streaming ingest stack runs exactly this
    shape (stateless map-only scoring, no model fetch).  Scored rows
    append to a parquet sink; the per-source keep-rate report runs over
    the drained sink and equals the batch report, so the oracle is
    shared.  Integer-exact logit ⇒ no cross-engine or cross-batch float
    hazard anywhere."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.streaming.neardup import document_stream

    out_dir = _run_dir("clf_gate", "out")

    def gate_batch(batch_df, _bid) -> None:
        w = F.split(F.col("text"), " ")
        sw = F.size(
            F.filter(
                w,
                lambda t: t.isin(
                    "the", "a", "of", "and", "to", "in", "is", "it"
                ),
            )
        )
        scored = batch_df.select(
            "doc_id",
            "source",
            (
                F.lit(-400000)
                + F.lit(45000) * sw
                + F.lit(10000) * F.size(F.array_distinct(w))
                - F.lit(1500) * F.size(w)
            ).cast("long").alias("logit_ppm"),
        )
        scored.write.mode("append").parquet(out_dir)

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", _run_dir("clf_gate", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )
    out_schema = "doc_id long, source string, logit_ppm long"
    if not os.path.isdir(out_dir):
        return spark.createDataFrame(
            [],
            "source string, n_docs int, n_kept int, keep_rate double, "
            "logit_sum_ppm long",
        )
    acc = (
        spark.read.schema(out_schema).parquet(out_dir).dropDuplicates(["doc_id"])
    )
    kept = (F.col("logit_ppm") >= 0).cast("int")
    return acc.groupBy("source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum(kept).cast("int").alias("n_kept"),
        F.round(F.sum(kept).cast("double") / F.count("*"), 6).alias("keep_rate"),
        F.sum("logit_ppm").alias("logit_sum_ppm"),
    )


def _wire_stream_classifier_oracle() -> None:
    from fluvio_duck_spark.queries.llm import ORACLE_CLASSIFIER_GATE

    QUERIES["stream_classifier_gate"] = QuerySpec(
        q_stream_classifier_gate, ORACLE_CLASSIFIER_GATE,
        doc="streaming quality-classifier gate: stateless per-batch integer-exact scoring — oracle-shared with curate_classifier_gate",
    )


_wire_stream_classifier_oracle()


def q_stream_novelty_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming novelty gate: the corpus shingle→first-owner index
    (min doc id per 3-gram — ORDER-INDEPENDENT, so batch and stream
    agree by construction) is built once from the static fixture and
    broadcast; each arriving doc's novelty fraction is scored per
    micro-batch and appended to a parquet sink.  Stateless across
    batches; the drained sink equals batch text_novelty_fraction, so
    the oracle is shared.  The ingest topology for 'how much new
    content is the firehose bringing': freeze the index nightly, score
    continuously."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.dedup import _exploded_shingles
    from fluvio_duck_spark.sources.tables import load
    from fluvio_duck_spark.streaming.neardup import document_stream

    corpus_sh = _exploded_shingles(
        load(spark, sf_dir, "documents"), "text", "doc_id", 3, None
    )
    first = (
        corpus_sh.groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
        .localCheckpoint(eager=True)  # the frozen first-owner index
    )

    out_dir = _run_dir("novelty_gate", "out")

    def gate_batch(batch_df, _bid) -> None:
        sh = _exploded_shingles(batch_df, "text", "doc_id", 3, None)
        scored = (
            sh.join(F.broadcast(first), "s")
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("int").alias("n_shingles"),
                F.sum((F.col("doc_id") == F.col("first_doc")).cast("int"))
                .cast("int")
                .alias("n_novel"),
                F.round(
                    F.sum(
                        (F.col("doc_id") == F.col("first_doc")).cast("int")
                    ).cast("double")
                    / F.count("*"),
                    6,
                ).alias("novelty"),
            )
        )
        scored.write.mode("append").parquet(out_dir)

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", _run_dir("novelty_gate", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )
    out_schema = "doc_id long, n_shingles int, n_novel int, novelty double"
    if not os.path.isdir(out_dir):
        return spark.createDataFrame([], out_schema)
    return spark.read.schema(out_schema).parquet(out_dir).dropDuplicates()


def _wire_stream_novelty_oracle() -> None:
    from fluvio_duck_spark.queries.llm import ORACLE_NOVELTY

    QUERIES["stream_novelty_gate"] = QuerySpec(
        q_stream_novelty_gate, ORACLE_NOVELTY,
        doc="streaming novelty gate: frozen first-owner shingle index broadcast, per-batch scoring — oracle-shared with text_novelty_fraction",
    )


_wire_stream_novelty_oracle()


def q_stream_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL streaming near-dup: unlike the static-index gates,
    the LSH bucket index GROWS with the stream — each arriving doc is
    scored against every doc that came before it (prior batches via the
    accumulated parquet index, same-batch predecessors via a self-join),
    then its own buckets join the index.  This is the production dedup
    topology for continuous ingest: nothing is frozen, the index is the
    stream's own history.

    'Earlier' means lower doc id — which makes the report exactly
    SQL-expressible (oracle = batch all-pairs restricted to
    b.doc_id < a.doc_id) — but the counting is ARRIVAL-ORDER
    INDEPENDENT: each matched pair is attributed to its higher id at
    whichever arrival completes it (greatest/least canonicalization),
    so a lower-id doc landing in a LATER micro-batch still credits the
    higher-id doc it collides with.  Spark's file stream orders batches
    by file, not by id, so nothing may assume id-ordered delivery
    (ADVICE r5; the id-shuffled multi-file layout is a test).  State is
    a parquet-backed bucket table (never driver memory), exactly the
    shape a 100 TB deployment checkpoints."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.dedup import minhash_portable_buckets
    from fluvio_duck_spark.streaming.neardup import document_stream

    idx_dir = _run_dir("ndinc", "idx")
    out_dir = _run_dir("ndinc", "out")

    def gate_batch(batch_df, _bid) -> None:
        bk = minhash_portable_buckets(batch_df).localCheckpoint(eager=True)
        idx_schema = "other long, band int, bh long"
        if os.path.isdir(idx_dir):
            prior = spark.read.schema(idx_schema).parquet(idx_dir)
        else:
            prior = spark.createDataFrame([], idx_schema)
        same_batch = bk.select(
            F.col("doc_id").alias("other"), "band", "bh"
        )
        earlier = prior.unionByName(same_batch)
        # Pair canonicalized to (higher id, lower id): counted exactly
        # once, at whichever arrival completes it — same-batch pairs
        # appear from both sides and collapse in the distinct; a
        # cross-batch pair joins only when its second member arrives.
        pair_hits = (
            bk.join(earlier, ["band", "bh"])
            .filter(F.col("other") != F.col("doc_id"))
            .select(
                F.greatest("doc_id", "other").alias("doc_id"),
                F.least("doc_id", "other").alias("other"),
            )
            .distinct()
        )
        pair_hits.write.mode("append").parquet(out_dir)
        same_batch.write.mode("append").parquet(idx_dir)  # index grows

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", _run_dir("ndinc", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )
    out_schema = "doc_id long, other long"
    if not os.path.isdir(out_dir):
        return spark.createDataFrame([], "doc_id long, n_prior_dups int")
    # distinct before the count: a pair replayed by a micro-batch retry
    # (the sink is append-only) must not double-count.
    return (
        spark.read.schema(out_schema).parquet(out_dir)
        .groupBy("doc_id")
        .agg(F.count_distinct("other").cast("int").alias("n_prior_dups"))
    )


def _wire_stream_neardup_incremental_oracle() -> None:
    from fluvio_duck_spark.operators.dedup import (
        minhash_portable_gate_incremental_oracle_sql,
    )

    QUERIES["stream_neardup_incremental"] = QuerySpec(
        q_stream_neardup_incremental,
        minhash_portable_gate_incremental_oracle_sql(),
        doc="incremental streaming near-dup: LSH index grows with the stream (parquet-backed state); per-doc prior-duplicate counts, oracle = all-pairs restricted to earlier ids",
    )


_wire_stream_neardup_incremental_oracle()


def q_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained KMV/theta distinct sketch per event type:
    each micro-batch's distinct hashes merge into a parquet-backed state
    of <= K values per type (union + re-top-K, the associative sketch
    merge — the same operation the batch rollup uses across days), so
    the state is BOUNDED regardless of stream length, unlike an exact
    streaming distinct whose state grows with the key space.  Shares the
    batch oracle: the stream-maintained sketch must equal the one-shot
    batch sketch bit-for-bit (merge order irrelevant — mergeability is
    the contract).  Exact companions (n_exact, err_ppm) are audit
    columns computed batch-side from the same fixture.

    Scale shape per batch: distinct on (type, h), salted two-stage
    top-K (stage 1 bounds every window task at K per salt slice), <=
    |types|*K rows rewritten per trigger."""
    import os

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.dsir import hash_bucket
    from fluvio_duck_spark.queries.pipeline import _KMV_K, _KMV_M
    from fluvio_duck_spark.sources.tables import load

    state_dir = _run_dir("kmvstream", "state")
    st_schema = "event_type string, h long"

    def apply_batch(batch_df, _bid) -> None:
        h = hash_bucket(
            F.concat(F.lit("kmv#"), F.col("user_id").cast("string")), _KMV_M
        )
        cand = batch_df.select("event_type", h.alias("h")).distinct()
        if os.path.isdir(state_dir):
            prior = spark.read.schema(st_schema).parquet(state_dir)
            cand = cand.unionByName(prior).distinct()
        w1 = W.partitionBy(
            "event_type", F.pmod(F.col("h"), F.lit(8))
        ).orderBy("h")
        w2 = W.partitionBy("event_type").orderBy("h")
        new_state = (
            cand.withColumn("rn1", F.row_number().over(w1))
            .filter(F.col("rn1") <= _KMV_K)
            .withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= _KMV_K)
            .select("event_type", "h")
            .localCheckpoint(eager=True)  # sever lineage before overwrite
        )
        new_state.write.mode("overwrite").parquet(state_dir)

    drain(
        event_stream(spark, sf_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", _run_dir("kmvstream", "ckpt")),
        spark, _events_paths(sf_dir),
    )

    state = spark.read.schema(st_schema).parquet(state_dir)
    w = W.partitionBy("event_type").orderBy("h")
    sk = (
        state.withColumn("rn", F.row_number().over(w))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth"),
            F.count("*").alias("n_kept"),
        )
    )
    ex = load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    est = F.when(F.col("n_kept") < _KMV_K, F.col("n_kept")).otherwise(
        F.expr(f"div({_KMV_K - 1}L * {_KMV_M}L, kth)")
    )
    return (
        ex.join(F.broadcast(sk), "event_type")
        .withColumn("est_users", est.cast("long"))
        .select(
            "event_type",
            "n_exact",
            "est_users",
            F.expr(
                "div(abs(est_users - n_exact) * 1000000L, n_exact)"
            ).alias("err_ppm"),
        )
    )


def _wire_stream_kmv_oracle() -> None:
    from fluvio_duck_spark.queries.pipeline import _oracle_kmv_distinct

    QUERIES["stream_kmv_distinct"] = QuerySpec(
        q_stream_kmv_distinct,
        _oracle_kmv_distinct(),  # shared: stream-merged sketch == batch sketch
        doc="continuously-maintained KMV distinct sketch (bounded parquet state, associative merge per batch) — shares the batch oracle",
    )


_wire_stream_kmv_oracle()


def q_stream_pp_datasource_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-partition offset model through the STREAMING seam
    (CONNECTOR.md §4): ``readStream.format("fluvio").option("log_dir",
    ...)`` checkpoints one cursor per partition log (``{"0": off0,
    ...}``), each micro-batch advances every partition by ≤
    max_rows_per_batch of ITS OWN offsets, and the drain must reproduce
    the batch truth per partition — n, offset span, and LEO all
    anchored in each partition's private sequence.  The strict
    streaming twin of ``source_pp_offsets_parity``: a reader sharing one
    global cursor across partitions fails this immediately.

    The task granule is sized from the largest partition's
    footer-statistics LEO so the drain is ~4 executor tasks per
    partition at EVERY scale factor (``max_rows_per_batch`` splits each
    cursor window into granule-sized executor-side range reads — the
    full DataSourceStreamReader protocol, no driver funnel)."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.pplog import (
        pp_partition_leos,
        write_pp_log_dir,
    )

    register_fluvio_source(spark)
    log_dir = write_pp_log_dir(spark, sf_dir)
    s = (
        spark.readStream.format("fluvio")
        .option("log_dir", log_dir)
        .option("max_rows_per_batch",
                _task_granule(pp_partition_leos(log_dir).values()))
        .load()
    )
    agg = s.groupBy("partition").agg(
        F.count("*").alias("n"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
        (F.max("offset") + 1).alias("leo"),
    )
    return run_stream_to_table(agg, spark, "complete", drain_paths=(log_dir,))


ORACLE_STREAM_PP_DATASOURCE = """
WITH pp AS (
  SELECT ROW_NUMBER() OVER (PARTITION BY user_id % 4 ORDER BY event_id) - 1
           AS "offset",
         CAST(user_id % 4 AS INTEGER) AS "partition"
  FROM events
)
SELECT "partition", COUNT(*) AS n, MIN("offset") AS min_offset,
       MAX("offset") AS max_offset, MAX("offset") + 1 AS leo
FROM pp GROUP BY 1
"""


def q_stream_pp_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 × the per-partition offset model: event-time tumbling windows
    with a watermark over the log_dir stream — records arrive through
    one offset cursor PER partition log, fetched as granule-sized
    executor-side range reads, and the windowed aggregate keyed by
    (window, partition) must equal the batch truth per partition.  The
    event-time result is cursor/task-slicing invariant (windows key on
    the data's timestamps, not on fetch boundaries); a reader that
    dropped or re-delivered any partition's range under the
    per-partition cursors shifts a window count."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.pplog import (
        pp_partition_leos,
        write_pp_log_dir,
    )

    register_fluvio_source(spark)
    log_dir = write_pp_log_dir(spark, sf_dir)
    s = (
        spark.readStream.format("fluvio")
        .option("log_dir", log_dir)
        .option("max_rows_per_batch",
                _task_granule(pp_partition_leos(log_dir).values()))
        .load()
    )
    agg = (
        s.withWatermark("timestamp", "12 hours")
        .groupBy(F.window("timestamp", "6 hours"), "partition")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("partition"),
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.col("n"),
        )
    )
    return run_stream_to_table(agg, spark, "complete", drain_paths=(log_dir,))


ORACLE_STREAM_PP_WINDOWS = """
SELECT CAST(user_id % 4 AS INTEGER) AS "partition",
       CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT))
         AS TIMESTAMP) AS window_start,
       CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 + 21600 AS BIGINT))
         AS TIMESTAMP) AS window_end,
       COUNT(*) AS n
FROM events GROUP BY 1, 2, 3
"""


QUERIES.update({
    "stream_pp_datasource_parity": QuerySpec(
        q_stream_pp_datasource_parity, ORACLE_STREAM_PP_DATASOURCE,
        doc="streaming per-partition offset cursors (log_dir mode): one checkpoint "
            "position per partition log, drained to each partition's own LEO",
    ),
    "stream_pp_windows": QuerySpec(
        q_stream_pp_windows, ORACLE_STREAM_PP_WINDOWS,
        doc="event-time tumbling windows + watermark over the per-partition "
            "cursor stream: (window, partition) counts equal the batch truth "
            "under any micro-batch slicing",
    ),
})


def q_stream_pp_consume_opts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTION-STRING streaming front end over the per-partition
    cursor stream: ``fluvio_consume_stream('<topic> <flags>',
    source=readStream log_dir)`` — partition pinning, offset-range
    positioning, and typed ``-c`` mapping all apply to a stream whose
    offsets are each partition's OWN sequence.  ``-p 2 --start 5 --end
    60`` must select partition 2's offsets 5..60 (56 records of ITS
    log), not a global slice — the last front-end × partition-model
    cell: builder, DataSource, SQL text, and now the streaming option
    string all share one offset algebra."""
    from fluvio_duck_spark.sources.datasource import register_fluvio_source
    from fluvio_duck_spark.sources.pplog import (
        pp_partition_leos,
        write_pp_log_dir,
    )

    register_fluvio_source(spark)
    log_dir = write_pp_log_dir(spark, sf_dir)
    s = (
        spark.readStream.format("fluvio")
        .option("log_dir", log_dir)
        .option("max_rows_per_batch",
                _task_granule(pp_partition_leos(log_dir).values()))
        .load()
    )
    out = fluvio_consume_stream(
        spark, "events -p 2 --start 5 --end 60 -c kk:i=k -c kd:d=k",
        sf_dir=sf_dir, source=s,
    )
    return run_stream_to_table(out, spark, drain_paths=(log_dir,))


ORACLE_STREAM_PP_CONSUME = """
WITH pp AS (
  SELECT ROW_NUMBER() OVER (PARTITION BY user_id % 4 ORDER BY event_id) - 1
           AS "offset",
         CAST(user_id % 4 AS INTEGER) AS "partition",
         props AS "value"
  FROM events
)
SELECT CAST(json_extract_string("value", '$.k') AS INTEGER) AS kk,
       CAST(json_extract_string("value", '$.k') AS DOUBLE) AS kd
FROM pp WHERE "partition" = 2 AND "offset" BETWEEN 5 AND 60
"""


QUERIES.update({
    "stream_pp_consume_opts": QuerySpec(
        q_stream_pp_consume_opts, ORACLE_STREAM_PP_CONSUME,
        doc="option-string streaming front end over the per-partition cursor "
            "stream: -p/--start/--end/-c apply to each partition's own offset "
            "sequence (fourth front end sharing the one offset algebra)",
    ),
})


def q_stream_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained global uniform k-sample: each micro-batch
    merges into a parquet-backed reservoir of the K smallest
    deterministic hash keys (union + re-top-K via the SAME
    ``global_sample`` operator the batch draw uses — the merge is
    associative, so the maintained state equals the one-shot batch draw
    under ANY micro-batch slicing).  Shares the batch oracle of
    ``sample_reservoir_global`` bit-for-bit; the streaming form is the
    arriving-corpus version of the same mergeable-reservoir contract
    (the top-K twin of ``stream_kmv_distinct``'s sketch merge).

    State is BOUNDED at K rows regardless of stream length; per batch
    the merge costs one TakeOrderedAndProject over (batch ∪ K prior
    rows) — per-partition K-row heaps, no shuffle, no window."""
    import os

    from fluvio_duck_spark.operators.sampling import global_sample, uniform_key
    from fluvio_duck_spark.streaming.neardup import document_stream

    k = 200
    state_dir = _run_dir("reservoir", "state")
    st_schema = "doc_id long, lang string, source string, n_chars bigint"

    def apply_batch(batch_df, _bid) -> None:
        cand = batch_df.select("doc_id", "lang", "source", "n_chars")
        if os.path.isdir(state_dir):
            prior = spark.read.schema(st_schema).parquet(state_dir)
            cand = cand.unionByName(prior)
        new_state = global_sample(
            cand, k, uniform_key("doc_id", seed=11), tiebreak=["doc_id"]
        ).localCheckpoint(eager=True)  # sever lineage before overwrite
        new_state.write.mode("overwrite").parquet(state_dir)

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", _run_dir("reservoir", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )
    return spark.read.schema(st_schema).parquet(state_dir).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _wire_stream_reservoir_oracle() -> None:
    from fluvio_duck_spark.queries.llm import ORACLE_SAMPLE_RESERVOIR

    QUERIES["stream_reservoir_sample"] = QuerySpec(
        q_stream_reservoir_sample,
        ORACLE_SAMPLE_RESERVOIR,  # shared: stream-merged reservoir == batch draw
        doc="continuously-maintained global uniform k-reservoir (bounded "
            "parquet state, associative top-K merge per batch) — shares the "
            "batch draw's oracle",
    )


_wire_stream_reservoir_oracle()


def q_stream_snapshot_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the manifest-versioned table
    (operators/snapshots.py): each micro-batch commits one append —
    immutable generation files + a new manifest — so the stream's
    history is time-travelable version by version, exactly the
    Delta/Iceberg streaming-sink commit model.

    Slicing independence: micro-batch boundaries are engine/layout
    dependent, but the FINAL version's content is their union however
    sliced, so the returned audit row is portable and shares the
    checksum discipline with the batch oracle.  The per-version claims
    ride along as one boolean: for EVERY committed version, the
    manifest-metadata audit (driver-side fold sum, zero table I/O) must
    equal a physical as-of read's audit, and row counts must be
    non-decreasing in version — any violation turns the column false
    and the driver hash goes red.  At 100 TB each commit costs its
    batch (stats scan over new files only); the audit loop is
    catalog-sized metadata plus one bounded read per version."""
    import os

    from pyspark.sql import functions as F

    from fluvio_duck_spark.functions.checksum import fold_sum, row_checksum
    from fluvio_duck_spark.operators import snapshots as snap
    from fluvio_duck_spark.streaming.neardup import document_stream

    root = _run_dir("snapshot_commits", "table")
    cols = ["doc_id", "n_chars", "pt"]

    def commit_batch(batch_df, _bid) -> None:
        if batch_df.isEmpty():
            return
        df = batch_df.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.pmod(F.col("doc_id"), F.lit(4)).alias("pt"),
        )
        s = batch_df.sparkSession
        if os.path.exists(os.path.join(root, "_HEAD")):
            snap.append(s, root, df)
        else:
            snap.create_table(s, root, df, "pt", cols)

    drain(
        document_stream(spark, sf_dir)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", _run_dir("snapshot_commits", "ckpt")),
        spark, _tbl_paths(sf_dir, "documents"),
    )

    head = snap.current_version(root)
    consistent = True
    prev_rows = 0
    for v in range(1, head + 1):
        m_rows, m_fold = snap.manifest_audit(root, v)
        r = snap.read_version_as_of(spark, root, v).agg(
            F.count("*").alias("n"),
            fold_sum(row_checksum(cols)).alias("f"),
        ).collect()[0]
        if (r["n"], r["f"]) != (m_rows, m_fold) or m_rows < prev_rows:
            consistent = False
        prev_rows = m_rows
    return snap.read_version_as_of(spark, root, head).agg(
        F.count("*").cast("long").alias("n_rows"),
        fold_sum(row_checksum(cols)).alias("checksum"),
    ).select(
        "n_rows", "checksum",
        F.lit(consistent).alias("versions_consistent"),
    )


def _wire_stream_snapshot_oracle() -> None:
    from fluvio_duck_spark.functions.checksum import checksum_sql

    inner = checksum_sql(
        "(SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "doc_id % 4 AS pt FROM documents)",
        ["doc_id", "n_chars", "pt"],
        label="snapshots",
    )
    QUERIES["stream_snapshot_commits"] = QuerySpec(
        q_stream_snapshot_commits,
        f"SELECT n_rows, checksum, TRUE AS versions_consistent "
        f"FROM ({inner})",
        doc="streaming ingest as versioned commits (one append manifest "
            "per micro-batch): final as-of read == the batch corpus "
            "under ANY slicing, every intermediate version's manifest "
            "audit re-proven against a physical as-of read",
    )


_wire_stream_snapshot_oracle()
