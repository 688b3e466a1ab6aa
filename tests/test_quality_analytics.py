"""Semantic invariants for the data-quality + ts-analytics family
(queries/quality.py).  Oracle parity is covered by verify_local; these
assert the properties parity can't see (bounds, flags, additivity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fluvio_duck_spark.queries.quality import (
    q_basket_copurchase_lift,
    q_geo_route_distance,
    q_quality_expectations,
    q_rollup_gapfill_interp,
    q_trend_ols_by_type,
    q_ts_anomaly_mad,
    q_ts_autocorr_hourly,
)


def test_expectations_all_pass_on_clean_fixture(spark, sf_dir):
    rows = q_quality_expectations(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r.passed for r in rows), rows
    assert all(r.metric == 1.0 for r in rows)


def test_expectations_catch_planted_violations(spark, sf_dir, tmp_path):
    """Break the fixture (null keys, dup orderkey, rogue status, orphan
    FK) and confirm exactly those constraints fail."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    broken = orders.limit(10).select(
        F.col("o_orderkey") * 0,  # duplicate keys
        F.lit(None).cast("long").alias("o_custkey"),  # nulls + orphan FK
        F.lit("X").alias("o_orderstatus"),  # rogue status
        (F.col("o_totalprice") * -1).alias("o_totalprice"),  # range
        "o_orderdate",
        "o_orderpriority",
    )
    bad_dir = str(tmp_path / "sf_broken")
    orders.unionByName(
        broken.withColumnRenamed("(o_orderkey * 0)", "o_orderkey")
    ).write.parquet(f"{bad_dir}/orders.parquet")
    spark.read.parquet(f"{sf_dir}/customer.parquet").write.parquet(
        f"{bad_dir}/customer.parquet"
    )
    res = {r.check_name: r for r in q_quality_expectations(spark, bad_dir).collect()}
    assert not res["completeness:o_custkey"].passed
    assert not res["unique:o_orderkey"].passed
    assert not res["range:o_totalprice>0"].passed
    assert not res["accepted:o_orderstatus"].passed
    assert not res["ref:o_custkey->customer"].passed
    assert all(0.0 <= r.metric < 1.0 for r in res.values())


def test_autocorr_bounded_and_complete(spark, sf_dir):
    rows = q_ts_autocorr_hourly(spark, sf_dir).collect()
    # 5 event types × 3 lags
    assert len(rows) == 15
    assert all(r.acf is None or -1.0 <= r.acf <= 1.0 for r in rows)
    assert {r.lag for r in rows} == {1, 2, 3}


def test_anomaly_mad_top3_per_type(spark, sf_dir):
    rows = q_ts_anomaly_mad(spark, sf_dir).collect()
    per_type: dict[str, int] = {}
    for r in rows:
        per_type[r.event_type] = per_type.get(r.event_type, 0) + 1
        assert r.score is None or r.score >= 0
        assert r.is_anomaly == bool(r.score is not None and r.score > 3.0)
    assert all(v == 3 for v in per_type.values())


def test_trend_ols_covers_all_rows(spark, sf_dir):
    ev_n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    rows = q_trend_ols_by_type(spark, sf_dir).collect()
    assert sum(r.n for r in rows) == ev_n
    # near-stationary synthetic values: slope should be tiny but finite
    assert all(abs(r.slope_per_hour) < 10 for r in rows)


def test_basket_pairs_canonical_and_positive(spark, sf_dir):
    rows = q_basket_copurchase_lift(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    assert all(r.p1 < r.p2 for r in rows)
    assert all(r.lift > 0 and r.c12 >= 2 for r in rows)
    # sorted by lift desc (ties broken deterministically)
    lifts = [r.lift for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_geo_distance_additive_over_routes(spark, sf_dir):
    """Route totals must sum to the all-pings total (same veh windows,
    route is just a grouping label) — catches lost/dup steps."""
    rows = q_geo_route_distance(spark, sf_dir).collect()
    assert all(r.total_km >= 0 for r in rows)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_veh = ev.select((F.col("user_id") % 1000).alias("v")).distinct().count()
    n_steps_expected = ev.count() - n_veh  # one lag-NULL per vehicle
    assert sum(r.n_steps for r in rows) == n_steps_expected


def test_interp_fill_convexity_and_spine(spark, sf_dir):
    """Interpolated points are convex combinations of observations, so
    every filled value lies inside the observed range; the spine is
    dense; leading 'none' rows are NULL."""
    rows = q_rollup_gapfill_interp(spark, sf_dir).collect()
    assert len(rows) == 720  # 30 days × 24 h dense spine
    obs = [r.avg_filled for r in rows if r.src == "obs"]
    lo, hi = min(obs), max(obs)
    for r in rows:
        if r.src in ("interp", "locf"):
            assert lo <= r.avg_filled <= hi, r
        if r.src == "none":
            assert r.avg_filled is None
    # exact hole repair: a 3-point series with one hole at 1/4 position
    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.timeseries import interp_fill

    df = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", 1.0),
         ("k", "2024-01-01 01:00:00", None),
         ("k", "2024-01-01 04:00:00", 13.0)],
        "k string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.ts.hour: (r.filled, r.filled_src)
           for r in interp_fill(df, "k", "ts", "v").collect()}
    assert out[1] == (1.0 + (13.0 - 1.0) * (1.0 / 4.0), "interp")


def test_kmv_small_population_is_exact(spark):
    """When a group owns fewer than K distinct keys, the KMV 'sketch'
    stores every hash and the estimate must equal the distinct-hash
    count exactly (the CASE n < K branch), not the (K-1)*M/kth
    extrapolation.  Built on a tiny in-memory events stand-in run
    through the registered query's own logic via a temp view."""
    import duckdb

    from fluvio_duck_spark.queries.pipeline import _KMV_K, q_sketch_kmv_distinct

    # 30 users (< K=64) in one type, 200 (> K) in another
    rows = [(i, "2024-01-01 00:00:00", i % 30, "small", 1.0, "{}") for i in range(100)]
    rows += [(1000 + i, "2024-01-01 00:00:00", 500 + i, "big", 1.0, "{}")
             for i in range(200)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
              "value double, props string",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(os.path.join(td, "events.parquet"))
        out = {r.event_type: r for r in q_sketch_kmv_distinct(spark, td).collect()}
    small = out["small"]
    assert small.n_exact == 30
    # fewer than K distinct users → estimate is the exact distinct-hash
    # count (hash collisions can only lower it, never raise it)
    assert small.est_users <= 30 and small.est_users >= 28
    big = out["big"]
    assert big.n_exact == 200
    assert big.est_users != big.n_exact or big.err_ppm == 0  # extrapolated


def test_streaming_run_dir_wipes_and_registers_cleanup():
    """run_dir must return the SAME path per (name, kind) within a
    process, wipe any prior contents (the fresh-checkpoint contract),
    and root everything under one per-process dir."""
    import os

    from fluvio_duck_spark.queries import run_dir

    p1 = run_dir("t_unit", "out")
    os.makedirs(p1)
    marker = os.path.join(p1, "stale")
    open(marker, "w").write("x")
    p2 = run_dir("t_unit", "out")
    assert p1 == p2
    assert not os.path.exists(marker)  # wiped on re-request
    assert f"fluvio_duck_runs_{os.getpid()}" in p1
    assert run_dir("t_unit", "ckpt") != p1
