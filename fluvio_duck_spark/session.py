"""SparkSession construction tuned for this engine.

Local mode is a stand-in for a real cluster: shuffle partition count tracks
core count, AQE is on so plans re-size at runtime (coalesce tiny shuffle
partitions, skew-join splitting), Arrow is on for any pandas-UDF paths, and
the session timezone is pinned to UTC so timestamp semantics match the
DuckDB correctness oracle.

Python workers start from :mod:`fluvio_duck_spark.daemon`
(``spark.python.daemon.module``), pyspark's daemon with the zipimporter's
``invalidate_caches`` made a no-op, so a Python task (Arrow UDF,
``applyInArrow`` writer, Python DataSource read, UDTF) no longer re-reads
``pyspark.zip``'s directory before its first row.  Directory finders still
invalidate, and an ``addPyFile`` archive is a new ``sys.path`` entry with
a fresh importer; what is given up is that a zip replaced in place under
an unchanged path is not re-read.  The daemon runs as ``python -m`` in
the JVM's working directory, so the package's parent directory leads
``spark.executorEnv.PYTHONPATH`` (merged with any value from
``extra_conf`` and the ``PYTHONPATH`` environment variable): workers find
the package from any working directory.  Sessions this module does not
build, such as one a driver passes to ``__spark_entry__.entry``, keep the
stock daemon and pay the re-read per task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The directory that holds the ``fluvio_duck_spark`` package.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "fluvio-duck-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # single-JVM local mode defaults to a 1g heap regardless of machine
    # size — with 32 executor threads that is ~32 MB of working heap per
    # task, an OOM trap for any shuffle-heavy operator.  Size the heap
    # like a real executor (env-overridable); only effective when this
    # process launches the JVM (i.e. before any getOrCreate).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary multimodal payloads can be MBs each: bound the Arrow batch
        # row count so mapInPandas batches stay memory-safe with media bytes
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.ui.enabled", "false")
    )
    extra_conf = dict(extra_conf or {})
    paths = [PACKAGE_PARENT]
    for more in (extra_conf.pop("spark.executorEnv.PYTHONPATH", ""),
                 os.environ.get("PYTHONPATH", "")):
        paths += more.split(os.pathsep)
    python_path = os.pathsep.join(dict.fromkeys(p for p in paths if p))
    builder = (
        builder.config("spark.python.daemon.module", "fluvio_duck_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", python_path)
    )
    for key, value in extra_conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
