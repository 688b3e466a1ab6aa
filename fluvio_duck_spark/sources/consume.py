"""``fluvio_consume`` — the streaming-topic scan as a DataFrame builder.

Reference lifecycle (SURVEY §3): option string → bind (parse opts, resolve
start offset, declare schema) → pull-based scan that stops at the row budget
or end of data (reference src/consume.rs:27-210, :63-134).  Spark-first
re-expression: the option string *declares a logical plan* —

    record log (parquet/stream)
      → topic + partition selection            (filters; pushed to the scan)
      → offset-range predicates                 (-B/-H/-T/--start/--end)
      → transform chain                         (ST5; DataFrame ops)
      → row budget                              (--rows; ordered limit)
      → column-mapping projection               (-c; typed JSON extraction)

Catalyst then fuses the whole thing with whatever query sits on top —
filters and projections reach the parquet scan (predicate pushdown + column
pruning give us, for free, the projection pushdown the reference scaffolded
but disabled, reference src/consume.rs:41,140-144).

Offset semantics (reference ``calculate_offset``, src/consume.rs:580-605):
a Fluvio partition log has dense offsets 0..LEO-1, so every position is an
offset-range predicate — no sort, no shuffle, prunable at the scan.  The
position table is ``options.py::ConsumeOptions.window``, the one rule
every front end shares; it resolves the options to a half-open
``[lo, hi)`` window:

  -B            lo = 0                 (no predicate)
  -H n          lo = n                 (n past the beginning)
  --start n     lo = n
  -T n          lo = max(LEO - n, 0)   (last n records)
  (default)     lo = LEO               (Offset::end; empty in bounded mode)
  --end n       hi = n + 1             (inclusive; the reference parses but
                 never enforces this — SURVEY §1.4.4 — we enforce it)

LEO (log-end offset) is computed as a 1-row aggregate joined back via
broadcast — a single plan, no driver-side collect, scale-safe.

The row budget (--rows, default 1000; reference src/consume.rs:75-93,:500)
bounds records *in log order from the start position*: expressed as
``ORDER BY offset LIMIT n``, which Spark executes as TakeOrderedAndProject
(per-partition top-n + merge — no global sort at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluvio_duck_spark.mappings import project
from fluvio_duck_spark.options import ConsumeOptions, parse_consume_opts
from fluvio_duck_spark.transforms import apply_transform_chain, load_transform_chain

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Number of partitions each topic stand-in presents (events.user_id % N).
STANDIN_PARTITIONS = 4

#: Topic names that map to the entire events table.
_WHOLE_LOG_TOPICS = {"events", "*"}

#: Built-in transforms that never drop rows — for these the --rows budget
#: commutes with the chain and can become a scan predicate.
_ROW_PRESERVING_TRANSFORMS = {
    "infinyon/jolt@0.1.0",
    "jolt",
    "sql-map",
    "sum-aggregate",
}


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the ``events`` fixture.  Its ``ts`` column is parquet
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects; read nanos
    as long (legacy conf) and truncate to microseconds in the plan —
    integer ``div`` so the truncation matches DuckDB's ns→µs narrowing."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from fluvio_duck_spark.sources.tables import table_schema

    path = os.path.join(sf_dir, "events.parquet")
    # schema pinned from the cached footer inference (sources/tables.py)
    # — the nanosAsLong conf above is set before the first inference, so
    # the cached schema carries the same ts flavor inference would see
    schema = table_schema(spark, path)
    events = spark.read.schema(schema).parquet(path)
    if isinstance(events.schema["ts"].dataType, T.LongType):
        events = events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return events


def standin_records(events: DataFrame, topic: str) -> DataFrame:
    """``events`` rows (a batch read or a stream) as topic records.

    Maps the fixture onto the reference record shape
    (``fluvio::consumer::Record`` — offset/timestamp/value, reference
    src/consume.rs:111-116,:289): ``event_id``→offset, ``ts``→timestamp,
    ``props``→value (JSON payload).  Topic = ``events`` for the whole log,
    or one of the ``event_type`` values for a sub-topic; partition stand-in
    is ``user_id % 4``.
    """
    if topic not in _WHOLE_LOG_TOPICS:
        events = events.filter(F.col("event_type") == topic)
    return events.select(
        F.col("event_id").cast(T.LongType()).alias("offset"),
        F.col("ts").alias("timestamp"),
        (F.col("user_id") % STANDIN_PARTITIONS).cast(T.IntegerType()).alias("partition"),
        F.col("props").alias("value"),
    )


def record_log(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, topic: str = "events"
) -> DataFrame:
    """The record-log DataFrame standing in for a Fluvio topic
    (:func:`standin_records` over the ``events`` fixture)."""
    return standin_records(read_events(spark, sf_dir), topic)


def _offset_window(
    log: DataFrame, opts: ConsumeOptions, rows: bool, per_partition: bool
) -> DataFrame:
    """Filter a record log to the ``[lo, hi)`` window of ``opts``
    (``ConsumeOptions.window``; ``rows`` folds the ``--rows`` budget into
    ``hi``).  A start anchored on the log end (-T / default) joins the
    LEO aggregate back by broadcast and bounds on it: one row for the
    global sequence, or one per partition when ``per_partition`` — each
    partition log then owns its own dense 0..LEO_p-1 sequence and
    anchors on THAT log end (reference src/partition.rs:107-134).  Any
    other window is literal bounds, pushed to the parquet scan."""
    keys = ["partition"] if per_partition else []
    leo = []

    def log_end():
        leo.append(F.broadcast(log.groupBy(*keys).agg(
            (F.coalesce(F.max("offset"), F.lit(-1)) + 1).alias("__leo")
        )))
        return F.col("__leo")

    lo, hi = opts.window(log_end, rows=rows)
    if leo:
        log = log.join(leo[0], keys) if keys else log.crossJoin(leo[0])
    if not (isinstance(lo, int) and lo == 0):  # offset >= 0 always holds
        log = log.filter(F.col("offset") >= lo)
    if hi is not None:
        log = log.filter(F.col("offset") < hi)
    return log.drop("__leo") if leo else log


def _budget_order_cols(log: DataFrame) -> list[str]:
    """Ordering for "first N records" budgets.  Offset alone is a total
    order on a raw log, but an array-map fan-out duplicates the parent
    offset — when a budget bisects one parent's element group, the
    offset tie makes the surviving element plan-dependent.  The chain
    carries a stable element-sequence column (transforms.ELEM_SEQ_COL)
    precisely for this: include it as the tie-breaker when present."""
    from fluvio_duck_spark.transforms import ELEM_SEQ_COL

    return ["offset", ELEM_SEQ_COL] if ELEM_SEQ_COL in log.columns else ["offset"]


def _pp_row_budget(log: DataFrame, rows: int) -> DataFrame:
    """Per-partition ``--rows`` budget: the first ``rows`` records of
    each partition's stream (applied AFTER the transform chain, like the
    global fallback — a filtering transform changes what "first n"
    matches).  Deterministic; the CLI's "stop after N merged records"
    depends on arrival interleaving, which a deterministic engine cannot
    honor — documented deviation."""
    from pyspark.sql import Window

    w = Window.partitionBy("partition").orderBy(*_budget_order_cols(log))
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= rows)
        .drop("__rn")
    )


def fluvio_consume(
    spark: SparkSession,
    opts: str | list[str] | ConsumeOptions,
    sf_dir: str = DEFAULT_SF_DIR,
    source: DataFrame | None = None,
    per_partition_offsets: bool = False,
) -> DataFrame:
    """``fluvio_consume('<topic> <flags>')`` → DataFrame.

    ``opts`` also accepts a pre-split argv list (for option values that
    embed quotes, e.g. inline ``--transform`` JSON) or a parsed
    ``ConsumeOptions``.  ``source`` optionally injects a pre-built record
    log (columns ``offset, timestamp, partition, value``) in place of the
    parquet stand-in — the seam a real Fluvio connector or a readStream
    source plugs into (see fluvio_duck_spark.streaming).

    ``per_partition_offsets=True`` switches the offset algebra to the
    reference's actual storage model (each partition log owns its own
    dense 0..LEO_p-1 sequence — src/partition.rs:107-134): tail/end
    anchor against each partition's OWN log end and ``--rows`` budgets
    each partition independently.  Pair with
    ``sources.pplog.per_partition_log`` (or any ``source=`` whose
    offsets are per-partition dense); the default global algebra stays
    the single-sequence stand-in's semantics.
    """
    if isinstance(opts, (str, list)):
        opts = parse_consume_opts(opts)

    # -d (continuous, SURVEY §1.4.5): over the bounded parquet stand-in,
    # "read to the end then wait for new records" returns exactly the
    # bounded result — accepted as a no-op here; a live unbounded run is
    # fluvio_consume_stream (streaming/consume_stream.py), same options.

    log = source if source is not None else record_log(spark, sf_dir, opts.topic)

    # Partition selection — honored (the reference parses -p/-A but pins
    # partition 0, reference src/consume.rs:179; SURVEY §1.4.2 fix).
    if not opts.all_partitions:
        log = log.filter(F.col("partition") == opts.partition)

    # Server-side SmartModule transform chain (reference src/consume.rs:
    # 645-673) → DataFrame transforms applied before the row budget, like
    # the SPU applies them before records reach the scan.
    chain = load_transform_chain(opts)

    # Row budget (--rows, reference src/consume.rs:75-93). Two plans:
    #  (a) offset-range predicate — when the selection is the dense whole
    #      log and the chain drops no rows, "first N records" ≡
    #      "offset < lo + N": a pure pushdown predicate, pruned at the
    #      parquet scan.  This is the scale path: no sort, no per-partition
    #      top-N heaps, no driver merge.
    #  (b) ordered limit (TakeOrderedAndProject) after the chain — the
    #      general fallback (sub-topic / single-partition selections have
    #      sparse offsets in the stand-in; filtering transforms change the
    #      row count); per-partition offsets budget each partition's own
    #      stream instead (_pp_row_budget).
    budget_as_predicate = (
        opts.rows is not None
        and opts.topic in _WHOLE_LOG_TOPICS
        and opts.all_partitions
        and not per_partition_offsets
        and all(spec.uses in _ROW_PRESERVING_TRANSFORMS for spec in chain)
    )
    log = _offset_window(log, opts, budget_as_predicate, per_partition_offsets)
    log = apply_transform_chain(log, chain)
    if opts.rows is None or budget_as_predicate:
        return project(log, opts.columns)
    if per_partition_offsets:
        return project(_pp_row_budget(log, opts.rows), opts.columns)
    log = log.orderBy(*_budget_order_cols(log)).limit(opts.rows)
    return project(log, opts.columns, parse_once=False)
