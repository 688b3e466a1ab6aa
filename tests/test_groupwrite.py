"""Publish contract of the shared one-file-per-group writer
(``operators/groupwrite.py``): the files left on disk are exactly the
ones the collected stats rows describe, under task retries and
speculative duplicates."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Runs in its own process: the shared fixture is ``local[4]`` (one
#: attempt per task), while ``local[2,2]`` lets Spark retry a failed
#: task once.  The largest group raises on attempt 0 AFTER its file is
#: written, so the retried task re-runs — and re-writes — every group
#: it holds, over an upstream (``F.rand()``) that is not reproducible.
_RETRY_SCRIPT = r"""
import json, os, sys

from pyspark import TaskContext
from pyspark.sql import functions as F

from fluvio_duck_spark.functions.checksum import CHECKSUM_MODULUS, row_checksum
from fluvio_duck_spark.operators.groupwrite import publish, write_file_per_group
from fluvio_duck_spark.session import get_spark

out = sys.argv[1]
spark = get_spark("groupwrite-retry", master="local[2,2]", shuffle_partitions=2)
df = spark.range(1200).select(
    (F.col("id") % 12).alias("g"), (F.rand() * 1e12).cast("long").alias("v")
).withColumn("__ck", row_checksum(["g", "v"]))


def write_group(tbl, write):
    g = tbl.column("g")[0].as_py()
    path = write(
        os.path.join(out, f"g={g}", f"part-00000-g{g}.parquet"),
        tbl.select(["g", "v"]),
    )
    if TaskContext.get().attemptNumber() == 0 and g == 11:
        raise RuntimeError("injected failure after the file write")
    fold = sum(tbl.column("__ck").to_pylist()) % CHECKSUM_MODULUS
    return {"g": [g], "path": [path], "rows": [tbl.num_rows], "fold": [fold]}


rows = write_file_per_group(
    df, "g", write_group, "g long, path string, rows long, fold long"
).collect()
hidden = sum(
    n.startswith(".") for _b, _d, files in os.walk(out) for n in files
)
final = publish(out, [r["path"] for r in rows])
print(json.dumps({
    "losers": hidden - len(rows),
    "rows": [
        {"g": r["g"], "path": final[r["path"]], "rows": r["rows"],
         "fold": r["fold"]}
        for r in rows
    ],
}))
"""


def test_group_writer_publishes_the_collected_attempt_under_retry(
    spark, tmp_path
):
    from fluvio_duck_spark.functions.checksum import fold_sum, row_checksum

    out = str(tmp_path / "out")
    os.makedirs(out)
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, out],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    rows = res["rows"]
    assert sorted(r["g"] for r in rows) == list(range(12))
    # the failed attempt wrote its largest group and at least one
    # earlier group before dying: two or more loser files to remove
    assert res["losers"] >= 2

    named = {r["path"] for r in rows}
    on_disk = {
        os.path.join(base, n) for base, _d, files in os.walk(out)
        for n in files
    }
    assert on_disk == named, "stray, hidden or .tmp files remain"
    for r in rows:
        leaf = os.path.join(out, f"g={r['g']}")
        assert [os.path.join(leaf, n) for n in os.listdir(leaf)] == [
            r["path"]
        ]
        written = spark.createDataFrame(
            pq.read_table(r["path"]).to_pylist(), "g long, v long"
        )
        got = written.agg(
            F.count("*").alias("n"), fold_sum(row_checksum(["g", "v"]))
        ).first()
        assert (got[0], got[1]) == (r["rows"], r["fold"]), (
            f"stats row of group {r['g']} does not describe its file"
        )


def test_publish_keeps_only_the_named_attempt(tmp_path):
    """Speculation: two attempts wrote the same group.  Only the one the
    collected row names is published (under the final name); the other
    is removed."""
    from fluvio_duck_spark.operators.groupwrite import publish

    leaf = tmp_path / "f=3"
    leaf.mkdir()
    winner = leaf / ".part-00000-f3.a17.parquet"
    loser = leaf / ".part-00000-f3.a18.parquet"
    winner.write_bytes(b"winner")
    loser.write_bytes(b"loser")

    final = publish(str(tmp_path), [str(winner)])

    assert final == {str(winner): str(leaf / "part-00000-f3.parquet")}
    assert os.listdir(leaf) == ["part-00000-f3.parquet"]
    assert (leaf / "part-00000-f3.parquet").read_bytes() == b"winner"
