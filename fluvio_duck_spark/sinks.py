"""Sinks — the reference's documented output paths (SURVEY §2.2).

K1: parquet export — the reference delegates to DuckDB ``COPY ... TO ...
(FORMAT 'parquet')`` (reference README.md:188-205); here it's the native
distributed parquet writer.
K2: view registration — ``CREATE VIEW t AS SELECT * FROM fluvio_consume(...)``
(reference README.md:152-156) → a Spark temp view.

There is no write-back-to-Fluvio producer in the reference (no producer
code anywhere in its src/) — deliberately not implemented here either.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def copy_to_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    coalesce: int | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """K1 — ``COPY (...) TO 'path' (FORMAT 'parquet')`` equivalent.

    ``partition_by`` / ``coalesce`` / ``max_records_per_file`` are scale
    knobs the reference lacks: at 100 TB you partition output by a
    pruning key rather than emit one directory of unsplittable files,
    and you bound file size so a skewed task cannot emit a 100 GB file
    (``maxRecordsPerFile`` splits task output, the writer-side
    complement to ``compact_files``' small-file merge).
    """
    if coalesce is not None:
        df = df.coalesce(coalesce)
    writer = df.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def copy_to_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    coalesce: int | None = None,
) -> None:
    """``COPY (...) TO 'path' (FORMAT 'json')`` equivalent — JSON-lines
    output (the payload format of the reference's records, so a consumed
    topic round-trips to a re-consumable form).  Same scale knobs as the
    parquet sink; prefer parquet for anything analytical — JSON is the
    interchange edge, not the storage format.
    """
    if coalesce is not None:
        df = df.coalesce(coalesce)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def register_view(df: DataFrame, name: str) -> DataFrame:
    """K2 — temp-view registration; returns the df for chaining."""
    df.createOrReplaceTempView(name)
    return df


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed table (scale knob beyond the reference): two
    tables bucketed by the same key/count join with NO exchange on either
    side — the shuffle is paid once at write time and amortized over
    every subsequent join/aggregation on that key.  At 100 TB this is the
    difference between re-shuffling the fact table per query and never
    shuffling it again."""
    writer = (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)  # external table location
    writer.saveAsTable(table)


def parquet_file_envelopes(path: str, cols: list[str]) -> list[dict]:
    """Per-file min/max statistics for ``cols``, read from the parquet
    FOOTERS of every file under ``path`` — no data pages are touched.
    Returns one dict per file: ``{"file", "n_rows", "<col>_min",
    "<col>_max", ...}`` (None when a footer lacks stats).

    This is the reader half of the clustering story: what an engine's
    scan planner sees when it decides which files a predicate can skip.
    Driver-side by design — the input is file METADATA (one footer per
    file, the same thing a catalog/manifest stores), not table data; at
    lake scale the identical walk runs over the manifest instead.
    """
    import os

    import pyarrow.parquet as pq

    out: list[dict] = []
    for root, _dirs, files in os.walk(path):
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            meta = pq.read_metadata(os.path.join(root, fname))
            names = {c: i for i, c in enumerate(meta.schema.names)}
            row: dict = {"file": fname, "n_rows": meta.num_rows}
            for c in cols:
                mn = mx = None
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(names[c]).statistics
                    if st is None or not st.has_min_max:
                        mn = mx = None
                        break
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
                row[f"{c}_min"] = mn
                row[f"{c}_max"] = mx
            out.append(row)
    return out


def compact_files(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    staging_suffix: str = "__compacting",
) -> int:
    """OPTIMIZE-style small-file compaction: rewrite a parquet directory
    into ``ceil(total_bytes / target_bytes)`` files and atomically swap
    it in.  Returns the new file count.

    Small-file sprawl is the death-by-a-thousand-tasks failure mode of
    any long-running ingest (every scan pays a task per file + a footer
    read); periodic compaction to ~128 MB files restores scan
    parallelism economics.  The rewrite stages into a sibling directory
    and swaps via two renames — a reader never observes a HALF-WRITTEN
    directory, but there is a brief window between the renames where
    the path is absent (retry a listing miss, or use a table format's
    manifest commit for a truly atomic swap on object stores).  Crash
    recovery runs first: an interrupted prior swap is rolled forward or
    back from the __old/staging leftovers, so the data is never
    stranded.
    """
    import math
    import os
    import shutil

    backup = path.rstrip("/") + "__old"
    staging = path.rstrip("/") + staging_suffix
    if os.path.exists(backup):
        if not os.path.exists(path):
            os.rename(backup, path)  # crashed between the two renames
        else:
            shutil.rmtree(backup)  # crashed before cleanup
    shutil.rmtree(staging, ignore_errors=True)  # stale partial rewrite

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return n_files


def apply_compaction_plan(
    spark,
    src_path: str,
    bins: DataFrame,
    partition_cols: list[str],
    file_id_cols: list[str],
    out_path: str,
    bin_col_name: str = "__bin",
) -> None:
    """Execute a compaction plan: rewrite the lake at ``src_path`` so
    each planned bin becomes exactly ONE physical file, closing the
    plan→execute loop of ``operators/layout.py::compaction_bins``.

    ``bins`` is the per-file bin assignment (``compaction_bins`` output:
    one row per source file, keyed by ``partition_cols + file_id_cols``,
    plus ``bin``).  Each data row joins its file's bin through a
    BROADCAST of the catalog-sized listing (no data-sized shuffle for
    the mapping), then one hash repartition on (partition, bin)
    co-locates each bin in a single task and ``partitionBy`` writes it
    to its own ``<partition>/<bin_col_name>=<bin>/`` directory — exactly
    one file per bin, regardless of how bins hash across tasks, because
    a bin never spans tasks.

    At 100 TB this is the standard OPTIMIZE shape: the only data-sized
    cost is one shuffle of the rows being compacted (bounded by the
    plan, not the table — feed it only the bins worth rewriting), and
    the plan/catalog stays driver-sized.  Output partition values are
    directory-encoded; re-reading with ``basePath``/partition discovery
    restores the columns.
    """
    from pyspark.sql import functions as F

    key = list(partition_cols) + list(file_id_cols)
    mapping = bins.select(*key, F.col("bin").alias(bin_col_name))
    df = spark.read.parquet(src_path)
    (
        df.join(F.broadcast(mapping), key, "inner")
        # explicit partition count — without it AQE coalesces the tiny
        # exchange to one task that writes every bin's file sequentially
        # (file-count-bound write; see operators/skipping.py)
        .repartition(
            spark.sparkContext.defaultParallelism,
            *(list(partition_cols) + [bin_col_name]),
        )
        .write.mode("overwrite")
        .partitionBy(*(list(partition_cols) + [bin_col_name]))
        .parquet(out_path)
    )


def write_wds_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    content_col: str | None = None,
    content_ext: str = "bin",
    meta_col: str | None = None,
) -> str:
    """WebDataset-style shard export: documents grouped into
    ``shard-%05d.tar`` archives — the on-disk artifact LLM training
    loaders (webdataset/tarreader) stream.  K1 extension: the
    reference's COPY surface emits parquet; a training pipeline's last
    hop is usually tar shards.

    Multimodal members (VERDICT r7 #8): real webdataset samples pair
    SAME-BASENAME members — ``content_col`` (a binary media column, the
    operators/multimodal.py convention) adds ``<id>.<content_ext>`` and
    ``meta_col`` (a struct or JSON string) adds a ``<id>.json`` sidecar
    next to the ``<id>.txt`` text.  Members of one sample are written
    consecutively in a fixed order (json, media, txt) — the grouping
    rule webdataset loaders rely on to reassemble samples while
    streaming.

    Layout contract: shard = id % n_shards, samples ordered by id
    (``sortWithinPartitions`` + hash-repartition on the shard key puts
    every shard wholly inside one task, so each archive is written
    sequentially by exactly one writer — no cross-task interleaving).
    Tar metadata is pinned (mtime=0, uid/gid=0, mode 644) so re-exports
    are byte-identical.  Pre-existing ``shard-*.tar`` under ``out_dir``
    are removed first (ADVICE r7: a re-export with fewer shards must
    not leave stale archives for the reader to glob).  At scale
    ``out_dir`` must be shared storage (each executor writes its own
    shards; local[...] shares /tmp).
    """
    import glob
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    os.makedirs(out_dir, exist_ok=True)
    for stale in glob.glob(os.path.join(out_dir, "shard-*.tar")):
        os.remove(stale)
    cols = [F.col(id_col), F.col(text_col)]
    if content_col is not None:
        cols.append(F.col(content_col).alias("__content"))
    if meta_col is not None:
        m = df.schema[meta_col].dataType
        meta_expr = (F.to_json(F.col(meta_col))
                     if isinstance(m, (T.StructType, T.MapType))
                     else F.col(meta_col).cast("string"))
        cols.append(meta_expr.alias("__meta"))
    data = (
        df.select(*cols)
        .filter(F.col(text_col).isNotNull())
        .withColumn("__shard", F.pmod(F.col(id_col), F.lit(n_shards)).cast("int"))
        .repartition(n_shards, "__shard")
        .sortWithinPartitions("__shard", id_col)
    )
    has_content = content_col is not None
    has_meta = meta_col is not None

    def write_partition(rows) -> None:
        import io
        import tarfile

        def add(tf, name, payload: bytes) -> None:
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            info.mtime = 0
            info.uid = info.gid = 0
            info.mode = 0o644
            tf.addfile(info, io.BytesIO(payload))

        tars = {}
        for r in rows:
            sh = r["__shard"]
            tf = tars.get(sh)
            if tf is None:
                tf = tarfile.open(
                    os.path.join(out_dir, f"shard-{sh:05d}.tar"), "w"
                )
                tars[sh] = tf
            base = str(r[id_col])
            if has_meta and r["__meta"] is not None:
                add(tf, f"{base}.json", r["__meta"].encode("utf-8"))
            if has_content and r["__content"] is not None:
                add(tf, f"{base}.{content_ext}", bytes(r["__content"]))
            add(tf, f"{base}.txt", r[text_col].encode("utf-8"))
        for tf in tars.values():
            tf.close()

    data.foreachPartition(write_partition)
    return out_dir


def read_wds_shards(spark, out_dir: str) -> DataFrame:
    """Scan WebDataset shards back into SAMPLES: ``binaryFile`` reads
    each archive whole (tars are not splittable — the shard IS the
    parallelism unit, exactly how training loaders shard work), and an
    Arrow-batched pass parses members, reassembling same-basename
    members into one row per sample (the webdataset grouping rule).
    Columns: shard, doc_id, n_bytes (text byte length), text, content
    (binary media member, NULL when absent), meta (JSON sidecar string,
    NULL when absent).

    ``out_dir`` is loaded as a directory with a ``*.tar`` leaf filter
    (a ``*.tar`` path glob makes the file source probe for a
    streaming-sink metadata log and log a WARN per read).  A directory
    load lists subdirectories too, which the glob did not, so
    ``out_dir`` must hold none: the writer makes none, and any other
    one is refused."""
    import os

    nested = sorted(
        e.name for e in os.scandir(out_dir)
        if e.is_dir() and not e.name.startswith((".", "_"))
    )
    if nested:
        raise ValueError(
            f"wds shard dir {out_dir} holds subdirectories: {nested}"
        )
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(out_dir)
    )
    schema = ("shard int, doc_id long, n_bytes long, text string, "
              "content binary, meta string")

    def run(batches):
        import io
        import re
        import tarfile

        import pandas as pd

        for pdf in batches:
            out = {"shard": [], "doc_id": [], "n_bytes": [],
                   "text": [], "content": [], "meta": []}
            for path, blob in zip(pdf["path"], pdf["content"]):
                sh = int(re.search(r"shard-(\d+)\.tar$", path).group(1))
                samples: dict[int, dict] = {}
                order: list[int] = []
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                    for m in tf.getmembers():
                        base, ext = m.name.rsplit(".", 1)
                        doc_id = int(base)
                        s = samples.get(doc_id)
                        if s is None:
                            s = samples[doc_id] = {
                                "text": None, "content": None, "meta": None,
                            }
                            order.append(doc_id)
                        data = tf.extractfile(m).read()
                        if ext == "txt":
                            s["text"] = data.decode("utf-8")
                        elif ext == "json":
                            s["meta"] = data.decode("utf-8")
                        else:
                            s["content"] = data
                for doc_id in order:
                    s = samples[doc_id]
                    out["shard"].append(sh)
                    out["doc_id"].append(doc_id)
                    out["n_bytes"].append(
                        len(s["text"].encode("utf-8"))
                        if s["text"] is not None else 0
                    )
                    out["text"].append(s["text"])
                    out["content"].append(s["content"])
                    out["meta"].append(s["meta"])
            yield pd.DataFrame(out)

    return files.select("path", "content").mapInPandas(run, schema=schema)
