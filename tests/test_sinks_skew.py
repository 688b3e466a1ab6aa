"""Sinks (SURVEY §2.2 K1/K2) and skew-mitigation operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from fluvio_duck_spark.operators.skew import (
    explain_shuffle_count,
    salted_agg_count,
    salted_join,
)
from fluvio_duck_spark.sinks import copy_to_parquet, register_view
from fluvio_duck_spark.sources.tables import load


def test_copy_to_parquet_roundtrip(spark, sf_dir, tmp_path):
    """K1: COPY ... TO (FORMAT 'parquet') equivalent — write, read back,
    byte-identical rows; partitioned layout prunes on the partition key."""
    src = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = str(tmp_path / "events_out")
    copy_to_parquet(src, out, partition_by=["event_type"])

    back = spark.read.parquet(out)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    a = {tuple(r) for r in src.collect()}
    b = {(r.event_id, r.event_type, r.value) for r in back.collect()}
    assert a == b

    # partition pruning: a filter on the partition key reads one directory
    pruned = back.filter(F.col("event_type") == "click")
    scan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in scan


def test_register_view_sql_roundtrip(spark, sf_dir):
    """K2: CREATE VIEW over a consume scan, then plain SQL on top —
    the reference's documented workflow (README.md:152-167)."""
    from fluvio_duck_spark.sources.consume import fluvio_consume

    df = fluvio_consume(spark, "events -A -B --rows 100", sf_dir=sf_dir)
    register_view(df, "transit")
    n = spark.sql("SELECT COUNT(*) AS n FROM transit").collect()[0].n
    assert n == 100


def test_salted_agg_matches_plain(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    plain = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    salted = {r.event_type: r.n for r in salted_agg_count(ev, "event_type", n_salts=8).collect()}
    assert salted == plain


def test_salted_join_matches_plain(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0), ("signup", 2.0),
         ("error", 0.0)],
        "event_type string, weight double",
    )
    plain = ev.join(dim, "event_type")
    salted = salted_join(ev, dim, "event_type", n_salts=4)
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.select("event_id", "weight").collect()}
    b = {tuple(r) for r in salted.select("event_id", "weight").collect()}
    assert a == b


def test_salted_join_left_preserves_unmatched(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "b"), (3, "zzz")], "id long, k string")
    dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, v int")
    out = salted_join(fact, dim, "k", n_salts=4, how="left").collect()
    got = {r.id: r.v for r in out}
    assert got == {1: 10, 2: 20, 3: None}


def test_shuffle_budget_helper(spark):
    df = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    assert explain_shuffle_count(df) >= 1


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-located join: both sides bucketed by the join key — the join
    plan contains no shuffle exchange on either side."""
    from fluvio_duck_spark.sinks import write_bucketed

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "orders_b", "o_orderkey", 8, path=str(tmp_path / "ob"))
    write_bucketed(li, "lineitem_b", "l_orderkey", 8, path=str(tmp_path / "lb"))

    # disable broadcast to force the join to actually use bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            spark.table("lineitem_b")
            .join(spark.table("orders_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # correctness: same row count as the plain join
        n_bucketed = (
            spark.table("lineitem_b")
            .join(spark.table("orders_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .count()
        )
        n_plain = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert n_bucketed == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_cell_partitioned_layout_prunes_scan(spark, sf_dir, tmp_path):
    """SCALE.md's IVF claim, proven physically (VERDICT r1 #7): writing
    the corpus ``partitionBy(cell)`` turns a cell probe into a
    partition-pruned scan.  Asserts on ``selectedPartitions`` of the
    executed scan node — the actual directory selection after partition
    filters — not on plan text."""
    from fluvio_duck_spark.operators.similarity import ivf_topk
    from fluvio_duck_spark.plans import scan_selected_partitions

    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "emb_by_cell")
    emb.write.partitionBy("label").parquet(path)
    n_cells = emb.select("label").distinct().count()
    by_cell = spark.read.parquet(path)

    pruned = by_cell.filter(F.col("label") == 3).select("vec_id")
    n_sel, filters = scan_selected_partitions(pruned)
    assert n_sel == 1, f"probe read {n_sel} of {n_cells} cell dirs"
    assert "label" in filters
    n_all, _ = scan_selected_partitions(by_cell.select("vec_id"))
    assert n_all == n_cells

    # same probe answer over the pruned layout as over the flat fixture
    base = {
        (r.vec_id, round(r.sim, 9))
        for r in ivf_topk(emb, query_id=0, k=10).collect()
    }
    got = {
        (r.vec_id, round(r.sim, 9))
        for r in ivf_topk(by_cell, query_id=0, k=10).collect()
    }
    assert got == base


def test_copy_to_json_roundtrip(spark, sf_dir, tmp_path):
    """JSON-lines sink: a consumed topic round-trips to a re-consumable
    form (records re-read with an explicit schema are value-identical)."""
    from fluvio_duck_spark.sinks import copy_to_json

    src = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = str(tmp_path / "events_json")
    copy_to_json(src, out, coalesce=2)

    back = spark.read.schema("event_id long, event_type string, value double").json(out)
    assert back.count() == src.count()
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_zorder_layout_clusters_both_columns(spark, tmp_path):
    """Footer-stat proof of the layout property: z-ordered files have
    bounded min-max spans in BOTH filter columns (the multi-predicate
    pruning case), while a plain sort clusters only its sort column and
    an unsorted write clusters nothing."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.zorder import write_zordered

    df = spark.range(100000).select(
        (F.pmod(F.hash("id"), 10000) / 10000.0).alias("x"),
        (F.pmod(F.hash(F.col("id") + 1), 10000) / 10000.0).alias("y"),
        "id",
    )
    df.repartition(8).write.parquet(str(tmp_path / "plain"))
    (
        df.repartitionByRange(8, "x").sortWithinPartitions("x")
        .write.parquet(str(tmp_path / "xsort"))
    )
    write_zordered(df, str(tmp_path / "zord"), ["x", "y"], num_files=8)

    def spans(path):
        sx, sy = [], []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                r = md.row_group(rg)
                st = {
                    r.column(i).path_in_schema: r.column(i).statistics
                    for i in range(r.num_columns)
                }
                sx.append(st["x"].max - st["x"].min)
                sy.append(st["y"].max - st["y"].min)
        return sum(sx) / len(sx), sum(sy) / len(sy)

    px, py = spans(tmp_path / "plain")
    xx, xy = spans(tmp_path / "xsort")
    zx, zy = spans(tmp_path / "zord")
    # plain: no clustering at all; xsort: perfect x, useless y
    assert px > 0.9 and py > 0.9
    assert xx < 0.2 and xy > 0.9
    # z-order: BOTH columns bounded — combined span beats the plain sort
    assert zx < 0.75 and zy < 0.75
    assert zx + zy < xx + xy
    # and the data survives the layout unchanged
    assert (
        spark.read.parquet(str(tmp_path / "zord")).count() == df.count()
    )


def test_compact_files_preserves_data_and_reduces_files(spark, sf_dir, tmp_path):
    import glob

    from fluvio_duck_spark.sinks import compact_files
    from fluvio_duck_spark.sources.tables import load

    path = str(tmp_path / "sprawl")
    ev = load(spark, sf_dir, "events")
    ev.repartition(32).write.parquet(path)  # small-file sprawl
    before_files = len(glob.glob(path + "/*.parquet"))
    before = {(r.event_id,) for r in spark.read.parquet(path).select("event_id").collect()}

    n = compact_files(spark, path, target_bytes=1 << 30)
    after_files = len(glob.glob(path + "/*.parquet"))
    assert n == 1 and after_files == 1 < before_files
    after = {(r.event_id,) for r in spark.read.parquet(path).select("event_id").collect()}
    assert after == before
    assert not glob.glob(path + "__*")  # staging/backup cleaned up


def test_cdc_apply_is_shuffle_free_on_bucketed_tables(spark, sf_dir, tmp_path):
    """The cdc_apply docstring's scale claim, plan-asserted: with the
    snapshot AND the change feed bucketed by the key, the whole MERGE —
    latest-change aggregation plus full-outer join — runs with ZERO
    shuffle exchanges (the shuffle was paid once at write time)."""
    from fluvio_duck_spark.operators.events import cdc_apply
    from fluvio_duck_spark.sinks import write_bucketed

    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-22").cast("timestamp")
    snapshot = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(F.min_by("value", F.struct("ts", "event_id")).alias("value"))
    )
    changes = ev.filter(F.col("ts") >= cutoff).select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert")).alias("op"),
    )
    write_bucketed(snapshot, "cdc_snap_b", "user_id", 8, path=str(tmp_path / "s"))
    write_bucketed(changes, "cdc_changes_b", "user_id", 8, path=str(tmp_path / "c"))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = cdc_apply(
            spark.table("cdc_snap_b"), spark.table("cdc_changes_b"),
            "user_id", "ts", "op", ["value"], tiebreak_col="event_id",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan.replace("BroadcastExchange", "")
        assert "SortMergeJoin" in plan
        # and the bucketed MERGE must agree with the plain one
        got = {(r.user_id, r.value) for r in out.collect()}
        exp = {(r.user_id, r.value)
               for r in cdc_apply(snapshot, changes, "user_id", "ts", "op",
                                  ["value"], tiebreak_col="event_id").collect()}
        assert got == exp
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS cdc_snap_b")
        spark.sql("DROP TABLE IF EXISTS cdc_changes_b")


def test_copy_to_parquet_bounds_file_size(spark, tmp_path):
    """maxRecordsPerFile must split a single task's output — the guard
    against a skewed partition emitting one unsplittable giant file."""
    import glob

    from fluvio_duck_spark.sinks import copy_to_parquet

    df = spark.range(0, 10_000).coalesce(1)
    out = str(tmp_path / "bounded")
    copy_to_parquet(df, out, coalesce=1, max_records_per_file=2_500)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == 4
    assert spark.read.parquet(out).count() == 10_000


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE must split a skewed shuffle-join partition at runtime
    (SortMergeJoin(skew=true)) — the no-code-change half of the skew
    story that complements explicit salting (operators/skew.py): at
    100 TB a surprise hot key is first absorbed by AQE's split, and
    salting is the designed-in fix for keys known to be hot."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved_broadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # fixture-scale thresholds: flag any partition > 16 KB and split
        # toward 8 KB targets so the hot key triggers on tiny local data
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "16KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50_000).select(
            (F.col("id") % 1000).alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").groupBy().agg(F.count("*").alias("n"))
        [row] = j.collect()
        # correctness unchanged: 90% of left sits on k=0, right has 50 rows
        # of k=0 (50_000/1000), plus the 1-in-10 spread keys k<1000
        hot = 180_000 * 50
        spread = sum(50 for i in range(200_000)
                     if i % 10 >= 9 and i < 1000)
        assert row.n == hot + spread
        txt = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in txt, txt[:1500]
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved_broadcast)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        ):
            conf.unset(k)


def test_dynamic_partition_overwrite_replaces_only_touched(spark, sf_dir, tmp_path):
    """partitionOverwriteMode=dynamic must replace ONLY the partitions
    present in the incoming frame — the incremental-reload semantics a
    daily pipeline needs (static mode would wipe every other partition)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id"
    )
    out = str(tmp_path / "by_type")
    ev.write.partitionBy("event_type").parquet(out)
    before = {
        r.event_type: r.n
        for r in spark.read.parquet(out).groupBy("event_type").agg(
            F.count("*").alias("n")
        ).collect()
    }

    # reload ONLY the 'click' partition with halved content
    clicks = ev.filter(F.col("event_type") == "click").limit(
        before["click"] // 2
    )
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        clicks.write.mode("overwrite").partitionBy("event_type").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    after = {
        r.event_type: r.n
        for r in spark.read.parquet(out).groupBy("event_type").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert after["click"] == before["click"] // 2
    for t, n in before.items():
        if t != "click":
            assert after[t] == n, t


def test_wds_shards_roundtrip_and_determinism(spark, tmp_path):
    """write_wds_shards -> read_wds_shards is byte-exact per member,
    members land in their id%n shard in id order, and a re-export
    produces BYTE-IDENTICAL archives (pinned tar metadata) — the
    reproducibility contract a training-data release needs."""
    import hashlib
    import os
    import tarfile

    from fluvio_duck_spark.sinks import read_wds_shards, write_wds_shards

    rows = [(i, f"doc-{i}-" + "x" * (i % 7)) for i in range(23)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out1 = str(tmp_path / "wds1")
    write_wds_shards(df, out1, n_shards=4)

    # shard files exist and members are ordered by id within each
    names = sorted(os.listdir(out1))
    assert names == [f"shard-{s:05d}.tar" for s in range(4)]
    for s, fname in enumerate(names):
        with tarfile.open(os.path.join(out1, fname)) as tf:
            ids = [int(m.name[:-4]) for m in tf.getmembers()]
            assert ids == sorted(ids)
            assert all(i % 4 == s for i in ids)
            for m in tf.getmembers():
                data = tf.extractfile(m).read()
                assert data == dict(rows)[int(m.name[:-4])].encode()

    # read-back equals the source exactly
    back = sorted(
        (r.doc_id, r.text, r.n_bytes)
        for r in read_wds_shards(spark, out1).collect()
    )
    assert back == sorted((i, t, len(t.encode())) for i, t in rows)

    # re-export is byte-identical (mtime/uid/mode pinned)
    out2 = str(tmp_path / "wds2")
    write_wds_shards(df, out2, n_shards=4)
    for fname in names:
        h1 = hashlib.md5(open(os.path.join(out1, fname), "rb").read()).hexdigest()
        h2 = hashlib.md5(open(os.path.join(out2, fname), "rb").read()).hexdigest()
        assert h1 == h2, fname


def test_wds_multimodal_members_and_stale_shard_clearing(spark, tmp_path):
    """Multimodal samples (VERDICT r7 #8): json sidecar + binary media +
    txt members share one basename, are written consecutively per
    sample, reassemble into one row on read, and re-exports are
    byte-identical.  Re-exporting with FEWER shards into the same dir
    must remove the stale archives (ADVICE r7: read_wds_shards globs
    shard-*.tar, so leftovers would resurface as live data)."""
    import hashlib
    import json
    import os
    import tarfile

    from pyspark.sql import functions as F

    from fluvio_duck_spark.sinks import read_wds_shards, write_wds_shards

    rows = [(i, f"doc-{i}-" + "y" * (i % 5)) for i in range(17)]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text",
        F.encode(F.reverse("text"), "utf-8").alias("content"),
        F.struct(F.lit("utf8").alias("format"),
                 F.length("text").cast("int").alias("n_chars")).alias("meta"),
    )
    out = str(tmp_path / "wds_mm")
    write_wds_shards(df, out, n_shards=4, content_col="content",
                     content_ext="img", meta_col="meta")

    # per-sample member grouping: json, img, txt — consecutive, same basename
    with tarfile.open(os.path.join(out, "shard-00001.tar")) as tf:
        names = [m.name for m in tf.getmembers()]
    assert len(names) % 3 == 0
    for j in range(0, len(names), 3):
        trio = names[j:j + 3]
        bases = {n.rsplit(".", 1)[0] for n in trio}
        assert len(bases) == 1, trio
        assert [n.rsplit(".", 1)[1] for n in trio] == ["json", "img", "txt"]

    # read-back reassembles one row per sample, every member intact
    back = read_wds_shards(spark, out).collect()
    assert len(back) == 17
    for r in back:
        text = dict(rows)[r.doc_id]
        assert r.text == text
        assert bytes(r.content).decode() == text[::-1]
        meta = json.loads(r.meta)
        assert meta == {"format": "utf8", "n_chars": len(text)}

    # byte-identical re-export with multimodal members
    out2 = str(tmp_path / "wds_mm2")
    write_wds_shards(df, out2, n_shards=4, content_col="content",
                     content_ext="img", meta_col="meta")
    for fname in sorted(os.listdir(out)):
        h1 = hashlib.md5(open(os.path.join(out, fname), "rb").read()).hexdigest()
        h2 = hashlib.md5(open(os.path.join(out2, fname), "rb").read()).hexdigest()
        assert h1 == h2, fname

    # stale-shard clearing: re-export with 2 shards into the SAME dir
    write_wds_shards(df, out, n_shards=2, content_col="content",
                     content_ext="img", meta_col="meta")
    assert sorted(os.listdir(out)) == ["shard-00000.tar", "shard-00001.tar"]
    assert read_wds_shards(spark, out).count() == 17  # no resurrected rows


def test_wds_read_refuses_a_shard_dir_with_subdirectories(spark, tmp_path):
    """read_wds_shards loads its directory with a ``*.tar`` leaf filter,
    which lists subdirectories too: a nested directory of archives would
    add rows, so it is refused rather than read."""
    import os

    import pytest

    from fluvio_duck_spark.sinks import read_wds_shards, write_wds_shards

    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    out = str(tmp_path / "wds")
    write_wds_shards(df, out, n_shards=2)
    assert read_wds_shards(spark, out).count() == 2
    write_wds_shards(df, os.path.join(out, "nested"), n_shards=2)
    with pytest.raises(ValueError, match="subdirectories"):
        read_wds_shards(spark, out)
