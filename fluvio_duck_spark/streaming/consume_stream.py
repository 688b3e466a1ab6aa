"""``fluvio_consume`` in streaming mode (ST1) — Structured Streaming.

The reference's ``-d`` flag toggles bounded vs continuous consumption
(reference src/consume.rs:480-482, :675; behavior inversion documented in
SURVEY §1.4.5).  Batch mode is sources/consume.py; this module is the
continuous side: ``spark.readStream`` over the record log with the same
topic/partition/offset/transform/mapping pipeline.  ``Trigger.
AvailableNow`` gives bounded-parity runs (process everything currently in
the log, then stop) — the exact analogue of the reference's default
stop-at-end behavior, while leaving the same query runnable forever with a
processing-time trigger.

Streaming-specific semantics (the position table is the batch one,
``options.py::ConsumeOptions.window``):

* ``-T/tail`` and the default end-position need the log-end offset, which
  is a property of a *bounded* scan — they raise here (the reference's
  streaming default "wait at the end for new data" corresponds to starting
  a fresh stream: every new record is new data).
* ``--rows`` is a scan budget in the reference; for an unbounded stream it
  has no one-shot meaning and is ignored (documented divergence; bound
  per-trigger intake with reader options instead, the ``--maxbytes``
  analogue, reference src/consume.rs:641-643).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from fluvio_duck_spark.mappings import project
from fluvio_duck_spark.options import ConsumeOptError, ConsumeOptions, parse_consume_opts
from fluvio_duck_spark.sources.consume import DEFAULT_SF_DIR, standin_records
from fluvio_duck_spark.transforms import apply_transform_chain, load_transform_chain

def _events_schema(spark: SparkSession, path: str):
    """The fixture's parquet schema from the shared per-(path, mtime)
    metadata cache (sources/tables.py::table_schema) — the file-stream
    source needs an explicit schema, and re-running footer inference on
    every stream construction cost ~0.2 s × ~20 streaming queries."""
    from fluvio_duck_spark.sources.tables import table_schema

    return table_schema(spark, path)


def event_stream(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """readStream over the events fixture with its native typed schema
    (event_id, ts, user_id, event_type, value, props).

    File-stream sources require an explicit schema; it is derived from a
    batch footer read of the same file so the stream sees exactly what the
    batch source sees — including the ``ts`` flavor, which has shipped both
    as TIMESTAMP(NANOS) (Spark reads it as long under the legacy conf and
    we truncate ns→µs) and as plain TIMESTAMP(MICROS)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = _events_schema(spark, path)
    if os.path.isdir(path):
        # multi-file table layout (e.g. bench.py's multi-row-group cache):
        # the table IS a directory — stream it directly
        stream = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        # single-file layout: file-stream sources take a directory, so load
        # the sf dir and glob-select just the events table
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # watermarks/event-time windows demand TIMESTAMP (not NTZ); the
        # session timezone is pinned to UTC (session.py), so the cast is
        # value-preserving.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def record_log_stream(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, topic: str = "events"
) -> DataFrame:
    """readStream over the events fixture, normalized to the record shape
    (offset, timestamp, partition, value) used by the batch source."""
    return standin_records(event_stream(spark, sf_dir), topic)


def fluvio_consume_stream(
    spark: SparkSession,
    opts: str | list[str] | ConsumeOptions,
    sf_dir: str = DEFAULT_SF_DIR,
    source: DataFrame | None = None,
) -> DataFrame:
    """Streaming DataFrame with the consume pipeline applied.  ``opts``
    takes what ``fluvio_consume`` takes.  Offset positions that require
    the log end (tail / default-end) are batch-only."""
    if isinstance(opts, (str, list)):
        opts = parse_consume_opts(opts)

    def unbounded():
        kind = "tail" if opts.tail is not None else "end"
        raise ConsumeOptError(
            f"offset position {kind!r} requires a bounded scan; "
            "use -B/-H/--start in streaming mode (or batch fluvio_consume)"
        )

    lo, hi = opts.window(unbounded, rows=False)

    log = source if source is not None else record_log_stream(spark, sf_dir, opts.topic)
    if not opts.all_partitions:
        log = log.filter(F.col("partition") == opts.partition)
    if lo > 0:
        log = log.filter(F.col("offset") >= lo)
    if hi is not None:
        log = log.filter(F.col("offset") < hi)

    log = apply_transform_chain(log, load_transform_chain(opts))
    return project(log, opts.columns)


def _input_bytes(paths) -> int:
    """Total on-disk bytes of the drain's source (file or directory
    table) — the size AQE would see as the exchange's input."""
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for base, _dirs, files in os.walk(p):
                for f in files:
                    if not f.startswith((".", "_")):
                        total += os.path.getsize(os.path.join(base, f))
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def drain_state_partitions(spark: SparkSession, paths) -> int:
    """Scale-adaptive shuffle-partition count for a BOUNDED stream drain
    (guide §2.2: size partitions from the data, never from a core-count
    constant).

    Stateful streaming exchanges cannot be AQE-coalesced (Spark disables
    AQE for streaming plans), and the state-partition count is frozen at
    the first batch from ``spark.sql.shuffle.partitions`` — so a bounded
    drain over an 11 MB log was paying 32 state-store instances whose
    per-instance commit cost grows with instance count (measured:
    ~80 ms/instance at 8 instances vs ~375 ms at 32, pure contention).
    Derive the count the way AQE sizes batch exchanges: one partition
    per ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` of input
    (the SAME knob that tunes batch coalescing), floor 1 — so partitions
    grow with the log, not with the host's core count.  At 100 TB the
    derived count is input/advisory, far above any core count; at
    fixture scale it is the 1-2 partitions AQE would coalesce the
    equivalent batch exchange to."""
    raw = spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
    )
    s = str(raw).strip().lower().removesuffix("b")
    mult = 1
    if s and s[-1] in "kmg":
        mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}[s[-1]]
        s = s[:-1]
    advisory = max(1, int(s) * mult)
    return max(1, -(-_input_bytes(paths) // advisory))


def drain(
    writer: DataStreamWriter, spark: SparkSession, paths=()
) -> StreamingQuery:
    """The one bounded-drain runner: start a configured stream writer
    with ``Trigger.AvailableNow`` (process everything currently in the
    source, then stop — the reference's default consume mode), wait for
    it to finish and return the terminated query (``recentProgress``
    holds its per-batch record).

    ``paths`` (source files/dirs) opts the drain into the input-derived
    state-partition count (:func:`drain_state_partitions`).  The count is
    set on the session only across ``writer.start()``: the stream clones
    the session conf when it starts and plans every batch from the clone,
    so the drain keeps the count after the session value is restored,
    while jobs a ``foreachBatch`` function builds from ``spark`` plan
    under the session's own setting."""
    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    if paths:
        spark.conf.set(key, str(drain_state_partitions(spark, paths)))
    try:
        q = writer.trigger(availableNow=True).start()
    finally:
        spark.conf.set(key, session_value)
    q.awaitTermination()
    return q


def run_stream_to_table(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str = "append",
    drain_paths=(),
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink and return the
    materialized batch result.

    This is the bounded-parity runner (reference default mode: consume
    everything available, then stop); it is also what lets streaming
    pipelines participate in the batch correctness harness.  The sink's
    temp view is dropped once the result is bound, so repeated drains
    do not pin every earlier result for the life of the session.

    ``drain_paths`` (source files/dirs) opts the drain into the
    input-derived state-partition count (:func:`drain_state_partitions`),
    pinned on the session only across the stream's start (see
    :func:`drain`)."""
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    drain(
        df.writeStream.outputMode(output_mode).format("memory").queryName(name),
        spark,
        drain_paths,
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def run_stream_to_parquet(df: DataFrame, path: str, checkpoint: str) -> None:
    """foreachBatch → parquet sink (SURVEY §7 step 7): each micro-batch is
    written by the distributed batch writer, with the checkpoint making the
    pipeline restartable (exactly-once per batch id — a retried batch
    overwrites nothing because parquet append + checkpointed batch ids skip
    completed work on restart).

    foreachBatch rather than the native file sink so the batch writer's
    full surface (partitionBy, dynamic overwrite, bucketed tables, JDBC…)
    is usable per micro-batch — the pattern any production sink needs."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(path)

    drain(
        df.writeStream.foreachBatch(write_batch).option(
            "checkpointLocation", checkpoint
        ),
        df.sparkSession,
    )
