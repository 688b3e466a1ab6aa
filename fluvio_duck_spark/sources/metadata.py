"""``fluvio_topics()`` / ``fluvio_partitions()`` — cluster-metadata scans.

The reference materializes these from the Fluvio admin API in a single
batch: topics with partition counts (reference src/topic.rs:97-126, schema
:52-53) and partitions with LEO = log-end offset (reference
src/partition.rs:97-140, LEO from ``partition.status.leader.leo`` :131,
replica-key split "topic-partition" :113-122).

Stand-in derivation over the ``events`` fixture (FIXTURES.md §1): topics are
the distinct ``event_type`` values, a topic's partitions are the distinct
``user_id % 4`` buckets present, and LEO is ``max(offset)+1`` per
(topic, partition).  Both are single partial-aggregated groupBys over two
pruned columns — at 100 TB this is a metadata query, not a data query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluvio_duck_spark.sources.consume import (
    DEFAULT_SF_DIR,
    STANDIN_PARTITIONS,
    read_events,
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_events(spark, sf_dir)


def fluvio_topics(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    log_dir: str | None = None,
    topic: str = "events",
    server: str | None = None,
) -> DataFrame:
    """Schema ``(name VARCHAR, partitions INTEGER)`` — reference
    src/topic.rs:52-53.

    ``log_dir`` switches to the per-partition log layout
    (sources/pplog.py): the listing comes from the log's own
    ``partition=<k>`` directories — the admin-RPC analogue over a real
    partition log snapshot.  Driver-side and n_partitions-bounded, like
    the reference's admin connect (src/topic.rs:55-59).  ``server``
    asks the loopback record server instead (sources/loopback.py) —
    an actual RPC, the second transport of CONNECTOR.md's parity gate."""
    if log_dir is not None or server is not None:
        from fluvio_duck_spark.sources.pplog import pp_partition_leos

        n = len(pp_partition_leos(log_dir, server))
        schema = T.StructType([
            T.StructField("name", T.StringType(), False),
            T.StructField("partitions", T.IntegerType(), False),
        ])
        return spark.createDataFrame([(topic, n)], schema)
    return (
        _events(spark, sf_dir)
        .select(
            F.col("event_type").alias("name"),
            (F.col("user_id") % STANDIN_PARTITIONS).alias("p"),
        )
        .groupBy("name")
        .agg(F.countDistinct("p").cast(T.IntegerType()).alias("partitions"))
    )


def fluvio_partitions(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    log_dir: str | None = None,
    topic: str = "events",
    server: str | None = None,
) -> DataFrame:
    """Schema ``(topic VARCHAR, partition VARCHAR, LEO)`` — reference
    src/partition.rs:52-54.  LEO is LONG here (the reference narrows to
    u32/int32, src/partition.rs:131 — SURVEY §1.4 widening applies).

    ``log_dir`` switches to the per-partition log layout
    (sources/pplog.py): each partition's LEO comes from ITS OWN
    fragments' parquet footer statistics — the per-replica
    ``partition.status.leader.leo`` read of reference
    src/partition.rs:131, against the reference's actual storage model
    (one independent offset sequence per partition).  Footer-only:
    no row group is decoded, and the result is n_partitions rows built
    driver-side — a metadata RPC, not a data scan, exactly like the
    reference's admin call.  ``server`` asks the loopback record server
    (sources/loopback.py) — the per-partition LEOs travel over an
    actual RPC, the second transport of CONNECTOR.md's parity gate."""
    if log_dir is not None or server is not None:
        from fluvio_duck_spark.sources.pplog import pp_partition_leos

        rows = [
            (topic, str(pid), leo)
            for pid, leo in pp_partition_leos(log_dir, server).items()
        ]
        schema = T.StructType([
            T.StructField("topic", T.StringType(), False),
            T.StructField("partition", T.StringType(), False),
            T.StructField("LEO", T.LongType(), False),
        ])
        return spark.createDataFrame(rows, schema)
    return (
        _events(spark, sf_dir)
        .select(
            F.col("event_type").alias("topic"),
            (F.col("user_id") % STANDIN_PARTITIONS).cast(T.StringType()).alias("partition"),
            F.col("event_id").alias("offset"),
        )
        .groupBy("topic", "partition")
        .agg((F.max("offset") + F.lit(1)).cast(T.LongType()).alias("LEO"))
    )
