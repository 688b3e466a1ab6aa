"""Per-partition-offset record log — the reference's ACTUAL storage model.

A real Fluvio topic is N independent partition logs, each with its own
dense offset sequence 0..LEO_p-1 and its own log-end offset (reference
src/partition.rs:107-134: LEO is read per partition replica; offsets
never span partitions).  The default stand-in (sources/consume.py)
collapses this to one global sequence because the driver fixture is one
table — faithful for ``-A`` over the whole log, but it cannot express
"partition 2's offset 5" ≠ "partition 3's offset 5".

This module provides the genuinely multi-fragment fixture and the two
front ends over it:

* ``per_partition_log`` — in-plan derivation from the ``events``
  fixture: partition = user_id % 4, offset = dense per-partition rank
  by event_id.  Deterministic, so a DuckDB oracle can replicate it
  exactly (ROW_NUMBER() OVER (PARTITION BY ... ORDER BY event_id) - 1).
  The rank window is a fixture-derivation cost only: a real partition
  log already carries its offsets, so no production plan pays it.
* ``write_pp_log_dir`` — materializes the log as ONE PARQUET DIRECTORY
  PER PARTITION (``partition=<k>/part-*.parquet``), each fragment
  carrying only that partition's offset sequence — the layout a
  connector snapshotting real partition logs would produce.  Idempotent
  per source fixture (mtime-keyed marker), bounded scratch (one dir per
  sf fixture under one root).

The consume surface accepts either shape: ``fluvio_consume(...,
source=per_partition_log(...), per_partition_offsets=True)`` switches
the offset algebra to per-partition anchoring, and
``spark.read.format("fluvio").option("log_dir", ...)`` plans one
InputPartition per partition directory with that partition's own
footer-statistics LEO (sources/datasource.py).
"""

from __future__ import annotations

import os
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluvio_duck_spark.sources.consume import STANDIN_PARTITIONS, read_events


def per_partition_log(
    spark: SparkSession, sf_dir: str, n_partitions: int = STANDIN_PARTITIONS
) -> DataFrame:
    """The events fixture re-keyed to the reference's per-partition
    offset model: ``(offset, timestamp, partition, value)`` where
    ``offset`` is dense 0..n_p-1 WITHIN each partition (rank by
    event_id).  One shuffle keyed by partition — fixture derivation
    only; a real log arrives with offsets attached."""
    ev = read_events(spark, sf_dir)
    part = (F.col("user_id") % n_partitions).cast(T.IntegerType())
    w = Window.partitionBy(part).orderBy("event_id")
    return ev.select(
        (F.row_number().over(w) - 1).cast(T.LongType()).alias("offset"),
        F.col("ts").alias("timestamp"),
        part.alias("partition"),
        F.col("props").alias("value"),
    )


def _scratch_root(sf_dir: str, suffix: str = "") -> str:
    """Scratch dir keyed by ABSOLUTE source path: distinct fixtures
    sharing a basename (/root/testdata/sf0.1 vs the bench cache's
    sf0.1) must not thrash one scratch dir back and forth."""
    import hashlib

    abs_src = os.path.abspath(sf_dir.rstrip("/"))
    base = (os.path.basename(abs_src) + suffix + "-"
            + hashlib.md5(abs_src.encode()).hexdigest()[:8])
    return os.path.join(tempfile.gettempdir(), "fluvio_duck_pplog", base)


#: Builder touches its lock file this often; waiters declare the builder
#: dead only after ``timeout_s`` WITHOUT a touch (see _build_scratch_once).
_LOCK_HEARTBEAT_S = 5.0


def _build_scratch_once(root: str, key: str, build, timeout_s: float = 900.0) -> None:
    """Cross-PROCESS build-once for a marker-keyed scratch dir.  A bare
    marker check is racy: two processes that both see no marker both run
    the overwrite write, and their interleaved parquet writers leave a
    doubled partition behind (caught by the round-9 sf1 receipt — two
    verify shards raced the array-log scratch and one partition came
    back 2x).  The first caller takes an O_EXCL lock file and builds;
    concurrent callers poll the marker until the builder finishes.

    Crash detection is by lock-file STALENESS, not total wait time
    (advice r9): a live builder touches the lock's mtime every
    ``_LOCK_HEARTBEAT_S`` while it works, so waiters time out only when
    the lock goes ``timeout_s`` without a heartbeat — a healthy builder
    writing a huge fixture on a contended box can legitimately hold the
    lock far longer than any fixed total-wall-time budget.  A LIVE but
    HUNG builder (deadlocked Spark job keeps the daemon heartbeat
    touching the lock forever) is still bounded: waiters raise after
    ``8 * timeout_s`` of total wall wait even with a fresh heartbeat,
    with a message distinguishing the two cases — without the cap every
    concurrent shard would block silently until an outer CI timeout."""
    if os.path.exists(os.path.join(root, "_READY")) \
            and open(os.path.join(root, "_READY")).read() == key:
        return
    os.makedirs(os.path.dirname(root), exist_ok=True)
    lock = root + ".lock"
    wait_started = time.time()
    while True:
        marker = os.path.join(root, "_READY")
        if os.path.exists(marker) and open(marker).read() == key:
            return
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
            except OSError:
                continue  # lock vanished between open and stat — retry
            if age > timeout_s:
                raise TimeoutError(
                    f"scratch build lock {lock!r} heartbeat is {age:.0f}s "
                    f"stale (>{timeout_s}s) — the builder crashed? remove "
                    "the lock file to rebuild"
                )
            waited = time.time() - wait_started
            if waited > 8 * timeout_s:
                raise TimeoutError(
                    f"scratch build lock {lock!r} still held after "
                    f"{waited:.0f}s of waiting with a LIVE heartbeat "
                    f"(last touch {age:.0f}s ago) — the builder is alive "
                    "but hung; inspect/kill the builder process, then "
                    "remove the lock file to rebuild"
                )
            time.sleep(0.5)
            continue
        hb_stop = threading.Event()

        def _heartbeat() -> None:
            while not hb_stop.wait(_LOCK_HEARTBEAT_S):
                try:
                    os.utime(lock)
                except OSError:
                    return

        hb = threading.Thread(target=_heartbeat, daemon=True)
        hb.start()
        try:
            if not (os.path.exists(marker) and open(marker).read() == key):
                build()
                with open(marker, "w") as fh:
                    fh.write(key)
        finally:
            hb_stop.set()
            hb.join()
            os.close(fd)
            os.unlink(lock)
        return


def write_pp_log_dir(
    spark: SparkSession, sf_dir: str, n_partitions: int = STANDIN_PARTITIONS
) -> str:
    """Materialize ``per_partition_log`` as a partition-per-directory
    parquet layout and return its path.  Idempotent per source fixture
    (mtime-keyed marker) and concurrency-safe across processes
    (:func:`_build_scratch_once`), so repeated driver/bench runs reuse
    the same bounded scratch dir."""
    src = os.path.join(sf_dir, "events.parquet")
    mtime = f"{os.path.getmtime(src):.0f}|{n_partitions}"
    root = _scratch_root(sf_dir)

    def build():
        log = per_partition_log(spark, sf_dir, n_partitions)
        (
            log.repartition("partition")
            .sortWithinPartitions("offset")
            .write.mode("overwrite")
            .partitionBy("partition")
            .parquet(root)
        )

    _build_scratch_once(root, mtime, build)
    return root


def write_pp_array_log_dir(
    spark: SparkSession, sf_dir: str, n_partitions: int = STANDIN_PARTITIONS
) -> str:
    """:func:`write_pp_log_dir`'s ARRAY-PAYLOAD variant: each record's
    value is the JSON array ``[{"k":K},{"j":K+1}]`` (K = the event
    payload's k) — the natural input shape of the array-map SmartModule
    kind, with the second element deliberately missing ``k`` so a
    downstream filter-map genuinely drops it.  Same idempotent
    mtime-keyed, cross-process-safe scratch contract; separate scratch
    dir (suffix ``-arr``), so it never perturbs the standard log other
    queries share."""
    src = os.path.join(sf_dir, "events.parquet")
    mtime = f"{os.path.getmtime(src):.0f}|{n_partitions}|arr"
    root = _scratch_root(sf_dir, "-arr")

    def build():
        log = per_partition_log(spark, sf_dir, n_partitions)
        k = F.get_json_object(F.col("value"), "$.k")
        arr = F.concat(
            F.lit('[{"k":'), k,
            F.lit('},{"j":'), (k.cast(T.LongType()) + 1).cast(T.StringType()),
            F.lit("}]"),
        )
        (
            log.withColumn("value", arr)
            .repartition("partition")
            .sortWithinPartitions("offset")
            .write.mode("overwrite")
            .partitionBy("partition")
            .parquet(root)
        )

    _build_scratch_once(root, mtime, build)
    return root


def pp_partition_dirs(log_dir: str) -> dict[int, str]:
    """partition id → fragment directory of a per-partition log
    (``partition=<k>/`` layout, :func:`write_pp_log_dir`) — one
    definition of "what partitions does this log have"."""
    import glob
    import re

    out: dict[int, str] = {}
    for d in sorted(glob.glob(os.path.join(log_dir, "partition=*"))):
        m = re.search(r"partition=(\d+)$", d)
        if m:
            out[int(m.group(1))] = d
    if not out:
        raise ValueError(
            f"log_dir {log_dir!r} has no partition=<k> directories"
        )
    return out


def pp_footer_leo(path: str, column: str = "offset") -> int:
    """The LEO of one offset-sequenced parquet log — a partition log's
    directory, or the stand-in's ``events.parquet`` file or directory
    with ``column="event_id"`` — from its fragments' footer statistics
    (row-group max + 1): the per-replica leo read of reference
    src/partition.rs:131.  Metadata-only: footers are parsed, no row
    group is decoded."""
    import glob

    import pyarrow.parquet as pq

    frags = ([path] if os.path.isfile(path)
             else sorted(glob.glob(os.path.join(path, "*.parquet"))))
    leo = -1
    for frag in frags:
        pf = pq.ParquetFile(frag)
        idx = pf.schema_arrow.get_field_index(column)
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if st is not None and st.max is not None:
                leo = max(leo, int(st.max))
    return leo + 1


def pp_partition_leos(log_dir: str | None = None,
                      server: str | None = None) -> dict[int, int]:
    """partition id → LEO of a per-partition log, in partition order:
    the record server's metadata RPC when ``server`` is set
    (sources/loopback.py), else each ``partition=<k>`` directory's
    footer statistics.  The plan-time metadata read of both DataSource
    readers, the metadata scans and the record server itself."""
    if server is not None:
        from fluvio_duck_spark.sources.loopback import server_parts

        return dict(sorted(server_parts(server).items()))
    return {
        pid: pp_footer_leo(d)
        for pid, d in sorted(pp_partition_dirs(log_dir).items())
    }


#: DuckDB twin of ``per_partition_log`` — keep the two derivations in
#: lockstep; every pp-log oracle builds on this CTE.
ORACLE_PP_LOG = """
SELECT ROW_NUMBER() OVER (PARTITION BY user_id % 4 ORDER BY event_id) - 1
         AS "offset",
       ts AS "timestamp",
       CAST(user_id % 4 AS INTEGER) AS "partition",
       props AS "value"
FROM events
"""
