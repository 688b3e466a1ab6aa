"""Z-order (Morton) data layout for multi-dimensional scan pruning.

Parquet row-group min/max stats prune scans only when the file layout
clusters the filtered columns.  A plain sort clusters ONE column
perfectly and leaves the others unclustered; interleaving the bits of
per-column quantile-bucket ranks clusters ALL participating columns
fairly well — the standard lakehouse `OPTIMIZE ZORDER BY` trade
(Delta/Iceberg/Databricks) for multi-predicate scan-heavy tables.

Design for 100 TB:

* Bucket boundaries come from ``approxQuantile`` — one pass, sketch-
  merged on the driver, 2^bits numbers per column (KB).  No sort, no
  shuffle for rank computation.
* Bucketing + bit interleaving are pure JVM column expressions against
  the broadcast boundary literals.
* The write is ``repartitionByRange(zkey)`` (one range shuffle — the
  same cost a plain sorted write pays) + ``sortWithinPartitions``.

Cite: reference has no storage-layout surface (its output is DuckDB
``COPY ... TO`` — reference README.md:188-205); this extends sink K1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(col: str, boundaries: list[float]) -> Column:
    """Rank of ``col`` among the boundary list = #boundaries <= value
    (0..2^bits-1).  O(|boundaries|) JVM filter per row, no shuffle."""
    bnds = F.array(*[F.lit(float(b)) for b in boundaries])
    c = F.col(col).cast("double")
    return F.when(c.isNull(), F.lit(0)).otherwise(
        F.size(F.filter(bnds, lambda b: b <= c))
    )


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 8
) -> tuple[DataFrame, Column]:
    """Return ``(df, zkey column)`` where zkey interleaves the ``bits``-bit
    quantile-bucket ranks of each column (Morton code).  Quantiles are
    approximate (``approxQuantile`` relative error 1e-3) — layout quality
    is insensitive to boundary jitter.

    Null handling: NULLs rank 0, i.e. they cluster with (and sort before)
    the minimum-value rows of that column; ``approxQuantile`` likewise
    ignores nulls when fitting boundaries.  A mostly-null layout column
    therefore contributes little clustering signal and dilutes the other
    columns' — prefer non-null (or coalesced) columns for layout."""
    n = (1 << bits) - 1
    probs = [i / (n + 1) for i in range(1, n + 1)]
    ranks = []
    for colname in cols:
        bnds = df.approxQuantile(colname, probs, 1e-3)
        ranks.append(_bucket(colname, bnds))
    width = len(cols)
    zkey = F.lit(0).cast("long")
    for bit in range(bits):
        for j, r in enumerate(ranks):
            # bit `bit` of rank j lands at interleaved position
            # bit*width + j
            zkey = zkey + (
                F.shiftleft(
                    F.shiftright(r.cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * width + j,
                )
            )
    return df, zkey


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` parquet with rows Morton-clustered on ``cols`` so
    row-group/file min-max stats prune multi-column range predicates."""
    df, zkey = zorder_key(df, cols, bits)
    _write_clustered(df, zkey, path, num_files, mode)


def write_zordered_exact(
    df: DataFrame,
    path: str,
    *dims,
    num_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Exact-key twin of :func:`write_zordered` for 2–7 dimensions that
    are ALREADY bucketed integers (each in [0, 2^bits_per_dim) — see
    ``operators/layout.py::morton_geometry``; e.g. ``pmod(user_id,
    1024)``, an epoch-hour bucket): interleaves the raw bits via
    ``operators/layout.py::zorder_key`` — a handful of shift/mask
    codegen steps per dimension, no ``approxQuantile`` sampling job at
    plan time, and a key that reproduces bit-for-bit in any engine (the
    oracle-paired ``layout_zorder_skipping`` / ``layout_zorder3_skipping``
    audits score exactly this layout; ``sinks.py::parquet_file_envelopes``
    reads the resulting footer stats back).  Use the quantile form above
    when dimensions are raw doubles/skewed values that need data-driven
    bucketing first."""
    from fluvio_duck_spark.operators.layout import zorder_key as exact_key

    cols = [F.col(d) if isinstance(d, str) else d for d in dims]
    _write_clustered(df, exact_key(*cols), path, num_files, mode)


def write_zordered_exact_partitioned(
    df: DataFrame,
    path: str,
    part_col: str,
    dims,
    file_shift: int = 8,
    mode: str = "overwrite",
    dynamic: bool = False,
) -> None:
    """Partitioned exact-Z-order write with DETERMINISTIC file
    boundaries: within each ``part_col`` table partition, rows land in
    the file ``zorder_key(*dims) >> file_shift`` — a pure function of
    the row, not of sampling or task scheduling.  Each (partition,
    z-file) pair becomes exactly one physical file (hash repartition on
    the pair co-locates it in one task; nested ``partitionBy`` writes it
    to its own leaf), so two writes of the same logical data produce the
    SAME file-level min/max envelopes — the property that makes
    incremental maintenance (:func:`refresh_zordered_partitioned`)
    provably equivalent to a full rewrite, file boundary for file
    boundary.  Rows are z-sorted within each file for tight row-group
    stats.  ``dynamic`` makes an overwrite replace only the table
    partitions present in ``df`` (a per-write option; the session's
    ``partitionOverwriteMode`` is left alone)."""
    from fluvio_duck_spark.operators.layout import zorder_key as exact_key

    cols = [F.col(d) if isinstance(d, str) else d for d in dims]
    zkey = exact_key(*cols)
    (
        df.withColumn("__zfile", F.shiftright(zkey, file_shift))
        .withColumn("__z", zkey)
        # explicit partition count: a keyed repartition with no N lets
        # AQE coalesce this byte-tiny exchange to one partition, and a
        # single task then pays the per-leaf parquet writer setup for
        # EVERY (partition, z-file) pair sequentially (guide §2.2/§6 —
        # this write is file-count-bound, not byte-bound; see
        # operators/skipping.py for the measured 4× effect)
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            part_col,
            "__zfile",
        )
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .options(**({"partitionOverwriteMode": "dynamic"} if dynamic else {}))
        .partitionBy(part_col, "__zfile")
        .parquet(path)
    )


def refresh_zordered_partitioned(
    spark,
    path: str,
    delta: DataFrame,
    part_col: str,
    dims,
    file_shift: int = 8,
) -> list:
    """Incremental Z-order maintenance (IVM for the physical layout):
    fold an append ``delta`` into a :func:`write_zordered_exact_partitioned`
    lake by re-clustering ONLY the table partitions the delta touches.

    Mechanics: the dirty-partition list is collected (partition-count-
    sized — catalog metadata, never data), the existing rows of just
    those partitions are read back (partition-pruned scan), unioned with
    the delta, and re-written z-clustered through DYNAMIC partition
    overwrite — Spark replaces only the leaf directories present in the
    output, so every untouched partition's files stay byte-for-byte
    stable (the ``refresh_rollup_materialized`` pattern applied to
    layout).  Because file ids are value-derived (``zkey >> shift``),
    the refreshed lake's file envelopes equal what a full rewrite of
    base+delta would produce — verified in test_layout.py.

    At 100 TB: cost scales with the DIRTY partitions' size, not the
    table's; a daily append re-clusters a day, not a lake.  Returns the
    dirty-partition values (for audit/logging).
    """
    dirty = [r[0] for r in delta.select(part_col).distinct().collect()]
    existing = (
        spark.read.parquet(path)
        .filter(F.col(part_col).isin(dirty))
        .drop("__zfile")
    )
    merged = existing.unionByName(delta.select(*existing.columns))
    write_zordered_exact_partitioned(
        merged, path, part_col, dims, file_shift, mode="overwrite", dynamic=True
    )
    return dirty


def _write_clustered(
    df: DataFrame, zkey: Column, path: str, num_files: int, mode: str
) -> None:
    # repartitionByRange samples the key distribution, so file boundaries
    # adapt to skew (a hot cell spreads over several files); the
    # in-partition sort keeps row-group stats tight within each file
    (
        df.withColumn("__z", zkey)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
