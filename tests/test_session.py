"""Session construction: the package's worker daemon reaches every Python
worker, workers find the package from any working directory, and
``addPyFile`` archives stay importable under the daemon's zip cache."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Runs from a temporary working directory with the package reachable
#: only through ``sys.path``: one Python UDF, then a zip added with
#: ``addPyFile`` after that first task and imported by a later one (one
#: core, so the later task runs in the worker the first one started).
_ELSEWHERE_SCRIPT = r"""
import json, os, sys, zipfile

sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F

from fluvio_duck_spark.session import get_spark

spark = get_spark("session-elsewhere", master="local[1]", shuffle_partitions=1)
first = [r[0] for r in spark.range(3).select(
    F.udf(lambda x: x + 1, "long")("id")).collect()]
with zipfile.ZipFile("late.zip", "w") as z:
    z.writestr("fds_late_module.py", "VALUE = 42\n")
spark.sparkContext.addPyFile(os.path.abspath("late.zip"))


def late(_):
    import fds_late_module

    return fds_late_module.VALUE


later = [r[0] for r in spark.range(2).select(F.udf(late, "long")("id")).collect()]
spark.stop()
print(json.dumps({"first": first, "later": later}))
"""


def test_daemon_noop_reaches_udf_and_arrow_workers(spark):
    """The worker's ``zipimporter.invalidate_caches`` is the package
    no-op in a plain Python UDF task and in an ``applyInArrow`` task;
    this fails if the daemon seam stops reaching the workers."""
    import pyarrow as pa

    def seen():
        import os
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        return "/".join([os.path.basename(os.path.dirname(code.co_filename)),
                         os.path.basename(code.co_filename), code.co_name])

    udf_rows = spark.range(2).select(
        F.udf(lambda _: seen(), "string")("id")).collect()
    arrow_rows = spark.range(4).groupBy((F.col("id") % 2).alias("g")).applyInArrow(
        lambda tbl: pa.table({"seen": [seen()] * tbl.num_rows}), "seen string"
    ).collect()
    got = {r[0] for r in udf_rows + arrow_rows}
    assert got == {"fluvio_duck_spark/daemon.py/_keep_zip_directory"}, got
    assert len(arrow_rows) == 4


@pytest.fixture(scope="module")
def elsewhere(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("elsewhere")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _ELSEWHERE_SCRIPT, REPO],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_python_udf_runs_from_another_working_directory(elsewhere):
    assert elsewhere["first"] == [1, 2, 3]


def test_add_py_file_zip_importable_in_a_later_task(elsewhere):
    assert elsewhere["later"] == [42, 42]


def test_zorder_refresh_and_not_in_query_leave_session_alone(spark, tmp_path):
    """The dynamic-overwrite Z-order refresh and the null-aware NOT IN
    query change neither the session's confs nor its temp views: the
    overwrite mode is a per-write option and the query binds its frames
    into the SQL text instead of registering named views."""
    from fluvio_duck_spark.operators.zorder import (
        refresh_zordered_partitioned,
        write_zordered_exact_partitioned,
    )
    from fluvio_duck_spark.queries.pipeline import q_join_not_in_nullaware

    def state():
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return spark.conf.getAll, views

    frame = spark.range(40).select(
        (F.col("id") % 2).alias("part"), (F.col("id") % 8).alias("x"),
        (F.col("id") % 5).alias("y"))
    lake = str(tmp_path / "lake")
    write_zordered_exact_partitioned(frame, lake, "part", ["x", "y"])
    before = state()
    refresh_zordered_partitioned(
        spark, lake, frame.filter("part = 1"), "part", ["x", "y"])
    # a static overwrite would have dropped partition 0's 20 rows
    assert spark.read.parquet(lake).count() == 60
    row = q_join_not_in_nullaware(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_not_in_raw"] == 0
    assert state() == before
