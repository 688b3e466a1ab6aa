"""One parquet file per group value, written by tasks and published by
the driver: the shared body of the snapshot-commit and skipping-sidecar
writers, which return per-file stats computed from the same Arrow table
whose bytes they write (one job, zero read-back).

A side-effecting task can run more than once: a failed task is retried
and re-runs EVERY group it held, a speculative copy races the original.
Spark keeps the output rows of exactly one successful attempt, so:

* a task writes each group's file under a hidden, attempt-unique name in
  its final leaf, ``.<stem>.a<taskAttemptId>.parquet`` (the dot keeps
  Spark's file index from listing it; the suffix lets
  ``snapshots.vacuum`` sweep one a killed attempt leaves late), and
  returns that name in its stats row;
* after the action, :func:`publish` renames only the files the collected
  rows name to their final names and deletes every other hidden attempt
  file, so each published file is the one its stats row describes.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_file_per_group(
    df: DataFrame, key_col: str, write_group: Callable, schema: str
) -> DataFrame:
    """Lazy frame calling ``write_group(tbl, write)`` once per
    ``key_col`` value with the group's rows as one Arrow table (bounded
    by the one-file-per-group contract itself).

    ``write(final_path, data)`` writes Arrow table ``data`` under the
    hidden attempt name for ``final_path`` and returns that name.
    ``write_group`` returns the group's output rows as a dict of columns
    matching the DDL ``schema``; they must carry the hidden name(s) for
    :func:`publish`."""
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = StructType.fromDDL(schema)
    # explicit arrow schema: a [None] cell would otherwise infer the
    # null type and fail Spark's output-schema validation
    arrow_schema = to_arrow_schema(out_schema)

    def _run(tbl):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        attempt = TaskContext.get().taskAttemptId()

        def write(final_path: str, data) -> str:
            leaf, name = os.path.split(final_path)
            os.makedirs(leaf, exist_ok=True)
            hidden = os.path.join(
                leaf, f".{name.removesuffix('.parquet')}.a{attempt}.parquet"
            )
            pq.write_table(data, hidden)
            return hidden

        return pa.table(write_group(tbl, write), schema=arrow_schema)

    # explicit N: AQE would coalesce this byte-tiny grouped exchange and
    # serialize the leaf writes (measured at sf1: 313 leaves / 7 tasks);
    # the keyed repartition is AQE-exempt and the groupBy reuses it
    return (
        df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(key_col)
        )
        .groupBy(key_col)
        .applyInArrow(_run, out_schema)
    )


def publish(out_dir: str, hidden_paths: list[str]) -> dict[str, str]:
    """Rename each hidden attempt file the collected rows name to its
    final name, then delete every other hidden attempt file under
    ``out_dir``.  Returns hidden → final path."""
    final = {}
    for h in hidden_paths:
        leaf, name = os.path.split(h)
        stem = name[1:].rsplit(".a", 1)[0]  # ".<stem>.a<attempt>.parquet"
        final[h] = os.path.join(leaf, f"{stem}.parquet")
        os.replace(h, final[h])
    for base, _dirs, files in os.walk(out_dir):
        for n in files:
            if n.startswith(".") and n.endswith(".parquet"):
                os.remove(os.path.join(base, n))
    return final
