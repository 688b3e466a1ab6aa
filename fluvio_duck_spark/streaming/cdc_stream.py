"""Streaming CDC merge — the micro-batch MERGE loop every warehouse
ingestion runs: a change feed arrives continuously; each micro-batch
upserts/deletes into a persistent state table via the same
``cdc_apply`` reduction the batch path uses (operators/events.py).

Spark's native streaming sinks can't express MERGE, so this is the
canonical ``foreachBatch`` pattern: per micro-batch, apply the batch
operator against the current state version and publish a new version
(versioned directories; the swap is a pointer update, never an
in-place overwrite of files a reader may hold open — the same
copy-on-write discipline a table format like Delta/Iceberg provides
natively).

Ordering contract: the feed must arrive key-ordered across batches the
way a CDC log does (a key's later change is never in an earlier batch).
Within a batch any order is fine — ``cdc_apply`` reduces to the latest
(ts, tiebreak) per key.  Under that contract the incrementally
maintained state equals the one-shot batch merge over the whole feed —
asserted by the parity test across ≥3 micro-batches.

Delivery semantics: foreachBatch is at-least-once, but the merge is
idempotent — re-applying a batch replays the same latest-per-key
upserts/deletes onto a state that already reflects them, landing on the
identical state version.  At-least-once + idempotent merge ⇒
effectively-once state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from fluvio_duck_spark.operators.events import cdc_apply
from fluvio_duck_spark.streaming.consume_stream import drain


def run_stream_cdc(
    spark: SparkSession,
    snapshot: DataFrame,
    change_stream: DataFrame,
    key_col: str,
    ts_col: str,
    op_col: str,
    val_cols: list[str],
    state_dir: str,
    tiebreak_col: str | None = None,
    drain_paths=(),
) -> DataFrame:
    """Maintain a CDC-merged state table from a streaming change feed.
    Processes everything available (``Trigger.AvailableNow``), then
    returns the final state as a batch DataFrame.  ``state_dir`` holds
    the versioned state; version 0 is the snapshot.

    Restartable: if ``state_dir`` already holds state versions, the run
    RESUMES from the latest one (the snapshot argument is ignored) and
    the streaming checkpoint skips already-processed feed files — stop
    the job anywhere, call again, converge to the same state.
    ``drain_paths`` is passed to :func:`drain`."""
    import re

    existing = sorted(
        (int(m.group(1)), d)
        for d in (os.listdir(state_dir) if os.path.isdir(state_dir) else [])
        if (m := re.fullmatch(r"v(\d+)", d))
        # a version is only real once its _SUCCESS marker landed — a
        # crash mid-write leaves a partial dir that must not be resumed
        and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    )
    if existing:
        version, d = existing[-1]
        current = {"path": os.path.join(state_dir, d), "version": version}
    else:
        v0 = os.path.join(state_dir, "v0")
        snapshot.write.mode("overwrite").parquet(v0)
        current = {"path": v0, "version": 0}

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        state = spark.read.parquet(current["path"])
        new_state = cdc_apply(
            state, batch, key_col, ts_col, op_col, val_cols,
            tiebreak_col=tiebreak_col,
        )
        nxt = os.path.join(state_dir, f"v{current['version'] + 1}")
        staging = nxt + "__tmp"
        new_state.write.mode("overwrite").parquet(staging)
        if os.path.exists(nxt):  # leftover partial dir from a crash
            import shutil

            shutil.rmtree(nxt)
        os.rename(staging, nxt)  # version appears only when complete
        current["path"] = nxt
        current["version"] += 1

    drain(
        change_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint")),
        spark,
        drain_paths,
    )
    return spark.read.parquet(current["path"])
