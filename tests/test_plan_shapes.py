"""Plan-shape contracts: the SCALE.md audit table, enforced.

Each test runs a query (so AQE's final re-planned physical plan is what
gets audited), then asserts upper bounds on shuffle exchanges, join
strategies, and Python passes.  A regression that adds a shuffle, breaks
a broadcast, or drops a Python pass into a hot path fails here — not in
a 100 TB postmortem.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluvio_duck_spark.plans import assert_plan, plan_ops
from fluvio_duck_spark.queries import all_queries


@pytest.fixture(scope="module")
def specs():
    return all_queries()


def _run(specs, spark, sf_dir, name):
    df = specs[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return df


def test_consume_mapped_typed_is_map_only(specs, spark, sf_dir):
    df = _run(specs, spark, sf_dir, "consume_mapped_typed")
    assert_plan(df, Exchange=0, ArrowEvalPython=0, BatchEvalPython=0)


def test_filtered_revenue_is_shuffle_free(specs, spark, sf_dir):
    # TPC-H Q6 shape: predicates pushed to the scan, partial sums merged
    # into one row.  The single allowed Exchange is the 1-row-per-task
    # partial→final merge of a global aggregate, not a data shuffle.
    df = _run(specs, spark, sf_dir, "agg_filtered_revenue")
    assert_plan(df, Exchange=1, SortMergeJoin=0, BroadcastHashJoin=0)


def test_revenue_join_broadcasts_all_dims(specs, spark, sf_dir):
    df = _run(specs, spark, sf_dir, "join_revenue_by_nation")
    ops = assert_plan(df, Exchange=1, SortMergeJoin=0)
    assert ops["BroadcastHashJoin"] >= 4


def test_asof_join_is_single_shuffle(specs, spark, sf_dir):
    df = _run(specs, spark, sf_dir, "join_asof")
    assert_plan(df, Exchange=1, SortMergeJoin=0, BroadcastHashJoin=0)


def test_topk_is_heap_not_sort(specs, spark, sf_dir):
    df = _run(specs, spark, sf_dir, "topk_orders")
    ops = assert_plan(df, Exchange=0)
    assert ops["TakeOrderedAndProject"] >= 1


def test_pii_redact_is_map_only(specs, spark, sf_dir):
    df = _run(specs, spark, sf_dir, "text_pii_redact")
    assert_plan(df, Exchange=0, ArrowEvalPython=0, BatchEvalPython=0)


def test_temperature_mixture_scans_corpus_once(specs, spark, sf_dir):
    # the regression this guards: scalar-agg cross joins re-derived the
    # count lineage per total and scanned the corpus once per branch
    df = _run(specs, spark, sf_dir, "sample_temperature_mixture")
    assert_plan(df, Scan_parquet=1)


def test_stratified_sample_is_single_shuffle(specs, spark, sf_dir):
    df = _run(specs, spark, sf_dir, "sample_stratified_quota")
    assert_plan(df, Exchange=1, ArrowEvalPython=0)


def test_semantic_dedup_final_plan_has_no_python(specs, spark, sf_dir):
    # the assignment pass is checkpointed once; the pair join + report
    # must not re-run Python per branch
    df = _run(specs, spark, sf_dir, "dedup_semantic")
    assert_plan(df, ArrowEvalPython=0, SortMergeJoin=0)


def test_quality_gate_has_no_giant_window(specs, spark, sf_dir):
    # The one allowed Window is the cumulative sum over the (lang, qppm)
    # VALUE HISTOGRAM (≤ 1e6 rows per lang by ppm quantization) that
    # selects the discrete p10 order statistic — never a percent_rank
    # over the corpus-sized stratum itself.
    df = _run(specs, spark, sf_dir, "text_quality_gate")
    ops = plan_ops(df)
    assert ops.get("Window", 0) <= 1


def test_min_cost_supplier_window_not_self_join(specs, spark, sf_dir):
    # TPC-H Q2 shape: window MIN, not the decorrelated agg+equality join
    # (which recomputes the dim-join subtree on both sides: 5 Ex / 8 BHJ)
    df = _run(specs, spark, sf_dir, "join_min_cost_supplier")
    ops = assert_plan(df, Exchange=2, SortMergeJoin=0, BroadcastHashJoin=4)
    assert ops["TakeOrderedAndProject"] >= 1


def test_part_value_share_broadcast_scalar_reuses_exchange(specs, spark, sf_dir):
    # TPC-H Q11 shape: the global threshold must be a 1-row aggregate
    # broadcast back over the per-part agg output — NOT an unpartitioned
    # window (single-partition funnel over |part| ≈ 2e9 rows at 100 TB).
    # AQE must then reuse the per-part shuffle so the corpus is scanned
    # once in the FINAL plan (the total branch reads the 1.7k-row agg
    # output via ReusedExchange, not a second lineitem scan).
    from fluvio_duck_spark.plans import formatted_plan

    # sf0.01, not the sf0.001 fixture: NATION_7 has no supplier lineitems
    # at sf0.001, so AQE empty-propagation collapses the whole plan and
    # there is no exchange left to reuse.
    df = specs["agg_part_value_share"].fn(spark, "/root/testdata/sf0.01")
    df.collect()
    final = formatted_plan(df).split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "ReusedExchange" in final
    assert final.count("Scan parquet") == 3  # lineitem, supplier, nation ×1


_GLOBAL_WINDOW_WHITELIST = {
    # Documented tiny-totals / reference-faithful cases — file → EXACT
    # occurrence count, so a NEW global window in an already-whitelisted
    # file still fails.  A global window is acceptable ONLY over a
    # relation whose cardinality is bounded by construction (sources,
    # partitions, rerank shortlists), or where the reference itself
    # folds serially.  Everything else must use the 1-row-aggregate +
    # crossJoin(broadcast(...)) pattern (operators/ranking.py::
    # quantile_bins is the canonical form).
    "operators/sampling.py": 1,  # temperature totals over |sources| rows
    "operators/chunking.py": 1,  # pack prefix over |partitions| rows
    "operators/ranking.py": 1,   # global_rank prefix over |partitions| rows
    "transforms.py": 1,          # reference-faithful serial fold (src/consume.rs:687)
    "queries/llm.py": 2,         # RRF rerank over two k-row shortlists
    "queries/pipeline.py": 3,    # KM survival risk-set/product-limit folds
                                 # + log-rank at-risk fold, all over the
                                 # duration table (≤ window days)
}


def test_no_unwhitelisted_global_windows():
    # Source lint: any new `Window.partitionBy()` (empty) or global
    # `Window.orderBy(...)` window over a data-cardinality relation is a
    # single-partition funnel at scale.  New occurrences must either be
    # rewritten broadcast-scalar or argued into the whitelist above.
    import pathlib
    import re
    from collections import Counter

    root = pathlib.Path(__file__).resolve().parents[1] / "fluvio_duck_spark"
    pat = re.compile(r"(?:Window|W)\.(?:partitionBy\(\)|orderBy\()")
    offenders: Counter = Counter()
    for py in root.rglob("*.py"):
        rel = py.relative_to(root).as_posix()
        for line in py.read_text().splitlines():
            if pat.search(line) and not line.lstrip().startswith("#"):
                offenders[rel] += 1
    assert dict(offenders) == _GLOBAL_WINDOW_WHITELIST, (
        f"global-window census drift: {dict(offenders)} != whitelist "
        f"{_GLOBAL_WINDOW_WHITELIST}; use the 1-row-agg + "
        "crossJoin(F.broadcast(...)) pattern or justify a whitelist entry "
        "(bounded cardinality only)"
    )


def test_supplier_cnt_two_phase_distinct(specs, spark, sf_dir):
    # TPC-H Q16 shape: distinct agg = expand + two-phase; anti join broadcast
    df = _run(specs, spark, sf_dir, "agg_supplier_cnt")
    assert_plan(df, Exchange=2, SortMergeJoin=0)


def test_excess_shippers_broadcast_semi(specs, spark, sf_dir):
    # TPC-H Q20 shape: the distinct-suppkey set is supplier-bounded at any
    # scale — must broadcast, never SMJ-shuffle the supplier side
    df = _run(specs, spark, sf_dir, "join_excess_shippers")
    assert_plan(df, Exchange=2, SortMergeJoin=0)


def test_segment_dedup_two_shuffles_no_python(specs, spark, sf_dir):
    # C4-style segment dedup: keep-first window on segment + reassembly
    # groupBy on doc id — two keyed shuffles, all-JVM expressions
    df = _run(specs, spark, sf_dir, "dedup_segments")
    assert_plan(df, Exchange=2, ArrowEvalPython=0, BatchEvalPython=0,
                SortMergeJoin=0, BroadcastHashJoin=0)


def test_split_assign_is_map_only_plus_agg(specs, spark, sf_dir):
    # split assignment itself is map-only; the summary agg is the shuffle
    df = _run(specs, spark, sf_dir, "sample_split_assign")
    assert_plan(df, Exchange=1, ArrowEvalPython=0, BatchEvalPython=0)


def test_training_order_single_range_exchange(specs, spark, sf_dir):
    # the epoch shuffle is ONE range exchange — never a global window
    df = _run(specs, spark, sf_dir, "sample_training_order")
    ops = assert_plan(df, Exchange=1, ArrowEvalPython=0)
    assert ops.get("Window", 0) == 0


def test_compact_latest_is_agg_not_window(specs, spark, sf_dir):
    # log compaction must be a map-side-combinable aggregate (one shuffle
    # of one row per mapper x key), never a row_number window over the log
    df = _run(specs, spark, sf_dir, "consume_compact_latest")
    ops = assert_plan(df, Exchange=1, ArrowEvalPython=0)
    assert ops.get("Window", 0) == 0


def test_compact_tombstones_single_pass(specs, spark, sf_dir):
    df = _run(specs, spark, sf_dir, "consume_compact_tombstones")
    ops = assert_plan(df, Exchange=1, Scan_parquet=1)
    assert ops.get("Window", 0) == 0


def test_heavy_hitters_window_over_preagg(specs, spark, sf_dir):
    # the top-k window must run over the (day,user) pre-agg, not raw
    # events: agg shuffle + window shuffle, nothing else
    df = _run(specs, spark, sf_dir, "consume_heavy_hitters")
    ops = assert_plan(df, Exchange=2, ArrowEvalPython=0, SortMergeJoin=0)
    assert ops.get("Window", 0) == 1


def test_asof_tolerance_still_single_shuffle(specs, spark, sf_dir):
    # the tolerance mask must ride the same union+window merge — no
    # second shuffle, no join operator
    df = _run(specs, spark, sf_dir, "join_asof_tolerance")
    assert_plan(df, Exchange=1, SortMergeJoin=0, BroadcastHashJoin=0)


def test_shipping_priority_one_shuffle_topk(specs, spark, sf_dir):
    # TPC-H Q3: the only Exchange is the groupBy; the top-10 is a heap
    # (TakeOrderedAndProject), never a global sort of the aggregate
    df = _run(specs, spark, sf_dir, "join_shipping_priority")
    ops = assert_plan(df, Exchange=1, ArrowEvalPython=0)
    assert ops.get("TakeOrderedAndProject", 0) == 1


def test_consume_sql_fuses_scan_and_agg(specs, spark, sf_dir):
    # the SQL-text surface must not materialize the inner scan: the
    # rewritten statement is ONE Catalyst plan — scan + partial/final agg,
    # a single shuffle, no Python boundary
    df = _run(specs, spark, sf_dir, "consume_sql_avg_by_route")
    ops = assert_plan(
        df, Exchange=1, ArrowEvalPython=0, BatchEvalPython=0, Scan_parquet=1
    )
    assert ops.get("HashAggregate", 0) == 2  # partial + final


def test_chunking_is_map_only(specs, spark, sf_dir):
    # chunking must stay a single-scan generate/explode pass: no shuffle,
    # no Python — the property that lets it run on 100 TB as pure map tasks
    df = _run(specs, spark, sf_dir, "text_chunk_documents")
    assert_plan(
        df, Exchange=0, ArrowEvalPython=0, BatchEvalPython=0, Scan_parquet=1
    )


def test_asof_broadcast_fact_never_shuffles(specs, spark, sf_dir):
    # the broadcast-interval as-of: ONE exchange (the small right side's
    # lead-window), fact side joins via BroadcastHashJoin — no SMJ, no
    # fact shuffle.  Same oracle hash as join_asof proves same semantics.
    df = _run(specs, spark, sf_dir, "join_asof_broadcast")
    ops = assert_plan(df, Exchange=1, SortMergeJoin=0, ArrowEvalPython=0)
    assert ops.get("BroadcastHashJoin", 0) == 1
    assert ops.get("Window", 0) == 1


def test_interval_overlap_join_never_nested_loop(specs, spark, sf_dir):
    # the whole point of grid bucketization: an inequality-overlap join
    # planned as an EQUI-join on (key, cell) — hash strategies only,
    # never BroadcastNestedLoop/Cartesian, no post-join distinct
    df = _run(specs, spark, sf_dir, "join_session_error_overlap")
    ops = assert_plan(
        df, BroadcastNestedLoopJoin=0, CartesianProduct=0, SortMergeJoin=1
    )
    assert ops.get("BroadcastHashJoin", 0) + ops.get(
        "ShuffledHashJoin", 0
    ) + ops.get("SortMergeJoin", 0) == 1
    # the only aggregate is sessionize's session_start/end groupBy
    # (partial+final) — NO post-join dedupe aggregate exists
    assert ops.get("HashAggregate", 0) <= 2


def test_topk_batch_exact_single_window_shuffle(specs, spark, sf_dir):
    # the exact oracle anchor: queries broadcast, corpus scores map-side;
    # the only Exchange is the per-query top-k window — no SMJ, no Python
    df = _run(specs, spark, sf_dir, "sim_topk_batch_exact")
    ops = assert_plan(
        df, Exchange=1, SortMergeJoin=0, ArrowEvalPython=0, BatchEvalPython=0
    )
    assert ops.get("BroadcastNestedLoopJoin", 0) == 1  # the broadcast cross
    assert ops.get("Window", 0) == 1


def test_topk_batch_gemm_partial_topk_shape(specs, spark, sf_dir):
    # the registered scale path: ONE Arrow-batched GEMM pass with map-side
    # partial top-k, then the per-query window over |batches|×|queries|×2k
    # rows — no joins at all, one Exchange
    df = _run(specs, spark, sf_dir, "sim_topk_batch")
    ops = assert_plan(
        df, Exchange=1, SortMergeJoin=0,
        BroadcastNestedLoopJoin=0, BroadcastHashJoin=0,
    )
    assert ops.get("MapInPandas", 0) == 1
    assert ops.get("Window", 0) == 1


def test_asof_nearest_single_shuffle_two_sorts(specs, spark, sf_dir):
    # nearest = both direction scans over ONE key exchange: 1 Exchange,
    # 2 Window nodes (asc + desc), no join operators at all
    df = _run(specs, spark, sf_dir, "join_asof_nearest")
    ops = assert_plan(
        df, Exchange=1, SortMergeJoin=0, BroadcastHashJoin=0,
        BroadcastNestedLoopJoin=0, ArrowEvalPython=0,
    )
    assert ops.get("Window", 0) == 2


def test_ohlc_bars_single_agg_pass(specs, spark, sf_dir):
    # the whole candlestick (open/high/low/close/count/volume) is one
    # partial+final hash aggregate — no window, no sort, 1 shuffle
    df = _run(specs, spark, sf_dir, "rollup_ohlc_bars")
    ops = assert_plan(df, Exchange=1, Window=0, Sort=0, SortMergeJoin=0)
    assert ops.get("HashAggregate", 0) == 2


def test_ngram_topk_is_heap_not_sort(specs, spark, sf_dir):
    # corpus bigram top-k: one count shuffle, global top-100 via
    # TakeOrderedAndProject (k-bounded heap), never a full sort
    df = _run(specs, spark, sf_dir, "ngram_corpus_topk")
    ops = assert_plan(df, Exchange=1, Sort=0)
    assert ops.get("TakeOrderedAndProject", 0) == 1


def test_range_search_is_map_only(specs, spark, sf_dir):
    # radius search: broadcast 1-row query, scan + filter — zero shuffles
    df = _run(specs, spark, sf_dir, "sim_range_search")
    assert_plan(df, Exchange=0, SortMergeJoin=0, ArrowEvalPython=0)


def test_scd2_intervals_single_window_shuffle(specs, spark, sf_dir):
    # the dimension build is one lead-window over the changelog: one
    # keyed Exchange, no join, no Python
    df = _run(specs, spark, sf_dir, "scd2_intervals")
    ops = assert_plan(
        df, Exchange=1, SortMergeJoin=0, BroadcastHashJoin=0, ArrowEvalPython=0
    )
    assert ops.get("Window", 0) == 1


def test_weighted_sample_single_shuffle_no_python(specs, spark, sf_dir):
    # exponential-key draw = map-side key expr + one stratum window;
    # the -ln stays JVM (no Python pass)
    df = _run(specs, spark, sf_dir, "sample_weighted_quota")
    assert_plan(df, Exchange=1, ArrowEvalPython=0, BatchEvalPython=0)


def test_global_rank_matches_window_without_global_sort(spark):
    """The distributed global rank must reproduce row_number() OVER
    (ORDER BY …) exactly, while the plan's only data-sized exchange is
    the hash exchange on the VALUE-DERIVED bucket id (driver-sampled
    boundary literals — re-evaluation-safe, see ranking.py) — the
    single-partition exchange that a naive global window would put under
    the full dataset appears here only under the P-row offsets side."""
    from pyspark.sql import Window as W

    from fluvio_duck_spark.operators.ranking import global_rank
    from fluvio_duck_spark.plans import formatted_plan

    df = (
        spark.range(0, 5000)
        .select("id", (F.hash("id") % 1000).alias("v"))
        .repartition(8)
    )
    ranked = global_rank(df, ["v", "id"], n_partitions=8)
    expect = df.withColumn("rank", F.row_number().over(W.orderBy("v", "id")))
    assert (
        ranked.orderBy("rank").collect() == expect.orderBy("rank").collect()
    )
    plan = formatted_plan(ranked)
    assert "hashpartitioning(__bkt" in plan  # the one data-sized exchange
    assert plan.count("SinglePartition") == 1  # offsets cumsum only
    # determinism under re-evaluation: a second materialization of the
    # SAME DataFrame must assign identical ranks (the old
    # monotonically_increasing_id implementation could disagree with
    # itself between the offsets job and the join job)
    a = sorted((r["id"], r["rank"]) for r in ranked.collect())
    b = sorted((r["id"], r["rank"]) for r in ranked.collect())
    assert a == b


def test_global_rank_keeps_null_leads_and_matches_nulls_first(spark):
    """NULL leading values must NOT be silently dropped (advice r9: a
    NULL > boundary comparison made the bucket id NULL and the offsets
    equi-join lost the row) — they land in bucket 0 and rank first,
    exactly Spark's ascending NULLS FIRST window order."""
    from pyspark.sql import Window as W

    from fluvio_duck_spark.operators.ranking import global_rank

    df = (
        spark.range(0, 2000)
        .select(
            "id",
            F.when(F.col("id") % 13 == 0, None)
            .otherwise(F.hash("id") % 500)
            .alias("v"),
        )
        .repartition(8)
    )
    ranked = global_rank(df, ["v", "id"], n_partitions=8)
    assert ranked.count() == 2000  # nothing dropped
    expect = df.withColumn("rank", F.row_number().over(W.orderBy("v", "id")))
    assert (
        ranked.orderBy("rank").collect() == expect.orderBy("rank").collect()
    )


def test_global_rank_temporal_and_string_lead_contract(spark):
    """Temporal leads bucket through a numeric surrogate (no eager
    approxQuantile failure); a string lead degrades to one bucket with a
    loud UserWarning instead of raising mid-pipeline (advice r9)."""
    import warnings

    from pyspark.sql import Window as W

    from fluvio_duck_spark.operators.ranking import global_rank

    dated = spark.range(0, 500).select(
        "id", F.date_add(F.lit("2024-01-01"), (F.hash("id") % 365)).alias("d")
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = global_rank(dated, ["d", "id"], n_partitions=4)
        rows = got.orderBy("rank").collect()
    assert not [w for w in caught if w.category is UserWarning]
    expect = dated.withColumn("rank", F.row_number().over(W.orderBy("d", "id")))
    assert rows == expect.orderBy("rank").collect()

    strung = spark.range(0, 100).select(
        "id", F.concat(F.lit("s"), F.lpad("id", 5, "0")).alias("s")
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = global_rank(strung, ["s", "id"], n_partitions=4)
        rows = got.orderBy("rank").collect()
    assert [w for w in caught if w.category is UserWarning]
    expect = strung.withColumn("rank", F.row_number().over(W.orderBy("s", "id")))
    assert rows == expect.orderBy("rank").collect()


def test_quantile_bins_uniform_split(spark):
    from fluvio_duck_spark.operators.ranking import quantile_bins

    df = spark.range(0, 100).select("id", (F.col("id") * 7 % 100).alias("v"))
    out = quantile_bins(df, ["v", "id"], n_bins=7, n_partitions=4)
    sizes = {r.bin: r.n for r in out.groupBy("bin").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == set(range(1, 8))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # bins are contiguous in value: every bin-b value ≤ every bin-(b+1) value
    lohi = {r.bin: (r.lo, r.hi) for r in out.groupBy("bin").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")).collect()}
    for b in range(1, 7):
        assert lohi[b][1] <= lohi[b + 1][0]


def test_new_round2_query_plan_contracts(specs, spark, sf_dir):
    """SCALE.md contracts for the late-round-2 additions."""
    # map-only: zero exchanges, zero Python
    for name in ("text_token_regex", "mm_sniff_formats"):
        df = _run(specs, spark, sf_dir, name)
        assert_plan(df, Exchange=0, ArrowEvalPython=0, BatchEvalPython=0,
                    FlatMapGroupsInPandas=0)
    # char entropy: exactly the two aggregation exchanges, no Python
    df = _run(specs, spark, sf_dir, "text_char_entropy")
    assert_plan(df, Exchange=2, ArrowEvalPython=0, BatchEvalPython=0)
    # vocab/OOV: top-V must be a bounded heap, vocab join a broadcast
    df = _run(specs, spark, sf_dir, "text_vocab_oov")
    ops = assert_plan(df, SortMergeJoin=0, ArrowEvalPython=0)
    assert ops["TakeOrderedAndProject"] >= 1
    # BM25: top-20 heap, no sort-merge join, no Python
    df = _run(specs, spark, sf_dir, "text_bm25_search")
    ops = assert_plan(df, SortMergeJoin=0, ArrowEvalPython=0,
                      BatchEvalPython=0)
    assert ops["TakeOrderedAndProject"] >= 1
    # incremental dedup: history side must prune to the fingerprint
    # column only (no full-width history scan)
    df = _run(specs, spark, sf_dir, "dedup_incremental")
    assert_plan(df, ArrowEvalPython=0, BatchEvalPython=0)
    # knn graph: exactly one grouped-Python pass (the block-pair GEMM)
    df = _run(specs, spark, sf_dir, "sim_knn_graph")
    ops = assert_plan(df, BatchEvalPython=0)
    assert ops.get("FlatMapGroupsInPandas", 0) == 1


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """When a dim is too big to broadcast (threshold forced to -1), a
    selective dim filter must still reach the fact scan as a runtime
    bloom filter (`might_contain` on l_orderkey) — Spark's row-level
    shuffle-join pruning, the mechanism that keeps selective fact⋈dim
    joins cheap at 100 TB when the dim outgrows the broadcast budget."""
    from pyspark.sql import functions as F

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # fixture files are tiny; drop the application-side size floor so
        # the injection decision runs on plan shape, not byte counts
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "0"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        txt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in txt, txt[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold"
        )


def test_quality_family_plan_contracts(specs, spark, sf_dir):
    """SCALE.md contracts for the data-quality/ts-analytics family."""
    # expectations: FK check must be a broadcast semi, never an SMJ;
    # the metric pass is pure conditional aggregation, no Python
    df = _run(specs, spark, sf_dir, "quality_expectations")
    ops = assert_plan(df, SortMergeJoin=0, ArrowEvalPython=0,
                      BatchEvalPython=0)
    assert "BroadcastHashJoin" in ops or "BroadcastNestedLoopJoin" in ops
    # autocorr: ONE full-data shuffle (raw→hourly); everything after
    # runs on the tiny hourly table (window + final agg)
    df = _run(specs, spark, sf_dir, "ts_autocorr_hourly")
    assert_plan(df, Exchange=3, SortMergeJoin=0, ArrowEvalPython=0)
    # anomaly MAD: median/MAD tables join back broadcast
    df = _run(specs, spark, sf_dir, "ts_anomaly_mad")
    assert_plan(df, SortMergeJoin=0, ArrowEvalPython=0)
    # OLS trend: one scan, one combine exchange — the sufficient-stats
    # shape (five sums) must stay a single map-side-combined pass
    df = _run(specs, spark, sf_dir, "trend_ols_by_type")
    assert_plan(df, Scan_parquet=1, Exchange=1, ArrowEvalPython=0)
    # basket lift: the limit is a bounded heap, not a global sort
    df = _run(specs, spark, sf_dir, "basket_copurchase_lift")
    ops = assert_plan(df, ArrowEvalPython=0, BatchEvalPython=0)
    assert ops["TakeOrderedAndProject"] >= 1
    # geo distance: lag window (1 shuffle on veh) + route agg, no Python
    df = _run(specs, spark, sf_dir, "geo_route_distance")
    assert_plan(df, Exchange=2, SortMergeJoin=0, ArrowEvalPython=0,
                BatchEvalPython=0)
    # session-grain journeys: sessionize windows + groupBy co-partition
    # on user — ONE shuffle end-to-end, everything else in-row
    df = _run(specs, spark, sf_dir, "sessions_journey_patterns")
    assert_plan(df, Exchange=1, SortMergeJoin=0, ArrowEvalPython=0,
                BatchEvalPython=0)
    # forecast backtest: eval-window bound must fold in lazily (BNLJ of
    # a 1-row agg), never an eager driver action or a sort-merge join
    df = _run(specs, spark, sf_dir, "forecast_backtest_mape")
    assert_plan(df, SortMergeJoin=0, ArrowEvalPython=0, BatchEvalPython=0)


def test_cms_heavy_hitter_topk_is_heap_not_window(specs, spark, sf_dir):
    # VERDICT r3 #2: the top-20 heavy-hitter probe must be a
    # TakeOrderedAndProject (per-partition heaps, driver merges 20 rows)
    # over the per-user pre-agg — never a row_number() window with no
    # PARTITION BY, which funnels the whole data-sized user table through
    # one WindowExec task at 100x scale.
    df = _run(specs, spark, sf_dir, "sketch_cms_users")
    ops = assert_plan(df, Window=0, ArrowEvalPython=0, BatchEvalPython=0)
    assert ops["TakeOrderedAndProject"] >= 1


def test_dsir_single_corpus_shuffle_no_python(specs, spark, sf_dir):
    # DSIR: feature tables are <=256 rows (bucket aggs), lambda joins
    # back via broadcast, and the ONLY corpus-sized exchange is the
    # per-doc weight sum.  No sort-merge join may appear, no Python.
    df = _run(specs, spark, sf_dir, "text_dsir_weights")
    ops = assert_plan(df, SortMergeJoin=0, ArrowEvalPython=0,
                      BatchEvalPython=0)
    assert ops.get("BroadcastHashJoin", 0) >= 1


def test_binary_hamming_heap_scan_then_tiny_rerank(specs, spark, sf_dir):
    # the Hamming candidate stage must be a bounded heap
    # (TakeOrderedAndProject), never a global sort; rerank runs on 50
    # rows so no further exchange is corpus-sized
    df = _run(specs, spark, sf_dir, "sim_binary_hamming")
    ops = assert_plan(df, SortMergeJoin=0, ArrowEvalPython=0,
                      BatchEvalPython=0)
    assert ops["TakeOrderedAndProject"] >= 1


def test_ivf_kmeans_portable_probe_no_python(specs, spark, sf_dir):
    # the portable fit runs as driver-coordinated tiny jobs before the
    # probe; the PROBE plan itself must be Python-free with the 1-row
    # query side broadcast and a bounded top-k heap
    df = _run(specs, spark, sf_dir, "sim_ivf_kmeans_portable")
    ops = assert_plan(df, ArrowEvalPython=0, BatchEvalPython=0,
                      SortMergeJoin=0)
    assert ops["TakeOrderedAndProject"] >= 1


def test_bpe_encode_distinct_word_shape(specs, spark, sf_dir):
    # encode must run over the DISTINCT-word table (Heaps' law), never
    # per occurrence: vocab distinct + word join + doc agg are the only
    # exchanges, no Python anywhere, and the K merge replaces must not
    # introduce a sort-merge join
    df = _run(specs, spark, sf_dir, "text_bpe_encode")
    assert_plan(df, ArrowEvalPython=0, BatchEvalPython=0)


def test_jaccard_prefix_no_nested_loop(specs, spark, sf_dir):
    # every join in the prefix-filter pipeline is an equi-join (shingle,
    # doc keys): a nested-loop join anywhere means the candidate or
    # verify stage regressed to all-pairs
    df = _run(specs, spark, sf_dir, "dedup_jaccard_prefix")
    assert_plan(df, BroadcastNestedLoopJoin=0, CartesianProduct=0,
                ArrowEvalPython=0, BatchEvalPython=0)


def test_span_corruption_map_only(specs, spark, sf_dir):
    df = _run(specs, spark, sf_dir, "text_span_corruption")
    assert_plan(df, Exchange=0, ArrowEvalPython=0, BatchEvalPython=0)


def test_containment_prefix_no_nested_loop(specs, spark, sf_dir):
    # asymmetric prefix join: candidate + verify stages must stay
    # equi-joins — a nested-loop anywhere means all-pairs regression
    df = _run(specs, spark, sf_dir, "dedup_containment_prefix")
    assert_plan(df, BroadcastNestedLoopJoin=0, CartesianProduct=0,
                ArrowEvalPython=0, BatchEvalPython=0)


def test_classifier_gate_single_agg_no_python(specs, spark, sf_dir):
    # literal-weight logit: map-only scoring + one source-keyed agg,
    # zero Python eval nodes
    df = _run(specs, spark, sf_dir, "curate_classifier_gate")
    assert_plan(df, ArrowEvalPython=0, BatchEvalPython=0,
                BroadcastNestedLoopJoin=0, CartesianProduct=0)


def test_novelty_fraction_no_python_no_nested_loop(specs, spark, sf_dir):
    # shingle-keyed min-agg + equi-join back: all JVM, nothing pairwise
    df = _run(specs, spark, sf_dir, "text_novelty_fraction")
    assert_plan(df, ArrowEvalPython=0, BatchEvalPython=0,
                BroadcastNestedLoopJoin=0, CartesianProduct=0)


def test_curriculum_order_broadcast_thresholds(specs, spark, sf_dir):
    # the 3-row percentile thresholds must reach the corpus via a
    # broadcast (1-row cross join), never a stratum-wide rank window
    df = _run(specs, spark, sf_dir, "curate_curriculum_order")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert_plan(df, ArrowEvalPython=0, BatchEvalPython=0)


def test_mutual_knn_no_new_exchange_beyond_knn(specs, spark, sf_dir):
    # the reciprocal filter must not regress to a nested-loop or
    # python-eval path — it is one extra equi-join on the edge list
    df = _run(specs, spark, sf_dir, "sim_mutual_knn")
    assert_plan(df, BroadcastNestedLoopJoin=0, CartesianProduct=0)


def test_bloom_join_filter_broadcasts_position_set(specs, spark, sf_dir):
    # the m-bounded position set must reach the probe side as a
    # broadcast; no Python, no data-sized nested loop.  The allowed
    # BNLJs are the 1-row absent-offset scalar broadcast (max(key)+1,
    # the r6 collision fix) — a cross join against one row, not a
    # quadratic join.
    df = _run(specs, spark, sf_dir, "sketch_bloom_join_filter")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert_plan(df, BroadcastNestedLoopJoin=2, CartesianProduct=0,
                ArrowEvalPython=0, BatchEvalPython=0)


def test_kmv_distinct_windows_are_salt_bounded(specs, spark, sf_dir):
    # KMV sketch: one distinct shuffle, then the salted two-stage top-K —
    # both Window ops are bounded (salt slice / ≤ 8·K survivors); dims
    # join broadcast, no Python
    df = _run(specs, spark, sf_dir, "sketch_kmv_distinct")
    ops = assert_plan(df, SortMergeJoin=0, ArrowEvalPython=0,
                      BatchEvalPython=0)
    assert ops["Window"] == 2


def test_kmv_set_ops_heap_not_window(specs, spark, sf_dir):
    # the K smallest of the union come from orderBy().limit() —
    # per-partition heaps, never a global-sort window
    df = _run(specs, spark, sf_dir, "sketch_kmv_set_ops")
    ops = assert_plan(df, Window=0, SortMergeJoin=0, ArrowEvalPython=0)
    assert ops["TakeOrderedAndProject"] >= 1


def test_kmv_weekly_merge_no_python_no_smj(specs, spark, sf_dir):
    df = _run(specs, spark, sf_dir, "rollup_kmv_weekly_users")
    assert_plan(df, SortMergeJoin=0, ArrowEvalPython=0, BatchEvalPython=0)


def test_compressibility_companion_single_python_pass(specs, spark, sf_dir):
    # exact proxies are JVM expressions; zlib is ONE Arrow-batched pass
    # riding the same scan — map-only, no shuffle
    df = _run(specs, spark, sf_dir, "text_compressibility_companion")
    assert_plan(df, Exchange=0, ArrowEvalPython=1, BatchEvalPython=0)


def test_partitioned_fold_is_partition_keyed(specs, spark, sf_dir):
    # the -e partitioned=true fold must key its window shuffle by the
    # Fluvio partition — never the serial fold's SinglePartition funnel
    from fluvio_duck_spark.plans import executed_plan

    df = _run(specs, spark, sf_dir, "consume_aggregate_fold_partitioned")
    plan = executed_plan(df)
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(partition" in plan


def test_threshold_calibration_no_python_no_cartesian(specs, spark, sf_dir):
    # one PPJoin prefix pass + 3-row aggregate: all-JVM, candidate-bounded
    df = _run(specs, spark, sf_dir, "dedup_threshold_calibration")
    assert_plan(df, ArrowEvalPython=0, BatchEvalPython=0,
                CartesianProduct=0, BroadcastNestedLoopJoin=0)


def test_rows_bound_outer_join_not_product(spark):
    """ADVICE r7: product-of-children is not an upper bound for outer
    joins — a left-outer BNLJ over a 0-row bounded build side still
    emits every preserved-side row, so the bound must include the
    preserved side (or be None when it is unbounded)."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.plans import rows_bound

    left = spark.range(10).toDF("k")
    # build side provably bounded: scalar aggregate (1 row), filtered
    # empty at runtime — the bound must still cover left's 10 rows
    build = spark.range(100).agg(F.count("*").alias("n")).filter("n < 0")
    j = left.join(F.broadcast(build), F.lit(True), "left_outer")
    plan = j._jdf.queryExecution().executedPlan()
    b = rows_bound(plan)
    # left is a Range (10) joined left-outer with a 1-row-bounded build:
    # sound bound = 10*1 + 10, and the actual 10 output rows are <= it
    assert b is not None and b >= 10
    assert j.count() == 10 <= b

    # semi/anti joins bound at the left side even when the right is
    # unbounded
    right = spark.range(5).toDF("k")  # RangeExec: bounded
    semi = left.join(right.filter("k >= 0"), "k", "left_semi")
    sb = rows_bound(semi._jdf.queryExecution().executedPlan())
    assert sb is None or sb <= 50  # never the unconstrained product path


#: The ingest_commit benchmark's five mappings: nested and top-level
#: plain dot paths.
_FIVE_MAPPINGS = ("-c tst=payload.VP.tst -c veh:i=payload.VP.veh "
                  "-c route=payload.VP.route -c k:i=k -c speed:d=payload.VP.spd")


def test_mapped_consume_parses_each_payload_once(spark, sf_dir):
    """>= 2 plain paths: one from_json feeds every mapping, in the batch
    plan and in the stream's optimized logical plan alike."""
    from fluvio_duck_spark.plans import json_parses
    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.streaming.consume_stream import fluvio_consume_stream

    once = {"from_json": 1, "get_json_object": 0}
    batch = fluvio_consume(spark, f"events -A -B --rows 500 {_FIVE_MAPPINGS}",
                           sf_dir=sf_dir)
    batch.write.format("noop").mode("overwrite").save()
    assert json_parses(batch) == once
    stream = fluvio_consume_stream(spark, f"events -A -B {_FIVE_MAPPINGS}",
                                   sf_dir=sf_dir)
    assert json_parses(stream) == once


def test_jolt_then_mappings_parse_twice(spark, sf_dir):
    """examples/jolt.yaml's six-leaf shift parses its input once and the
    two mappings over its output once more (per-path extraction: 8)."""
    from fluvio_duck_spark.plans import json_parses
    from fluvio_duck_spark.queries.consume_queries import JOLT_FULL_YAML
    from fluvio_duck_spark.sources.consume import fluvio_consume

    df = fluvio_consume(
        spark, f"events -A --start 5 --rows 300 --transforms-file={JOLT_FULL_YAML} "
        "-c route=route -c speed:d=speed", sf_dir=sf_dir,
    ).groupBy("route").agg(F.count("*"), F.avg("speed"))
    df.collect()
    assert sum(json_parses(df).values()) <= 2


def test_single_mapping_keeps_get_json_object(spark, sf_dir):
    """One path: a single get_json_object is cheaper than a struct parse."""
    from fluvio_duck_spark.plans import json_parses
    from fluvio_duck_spark.sources.consume import fluvio_consume

    df = fluvio_consume(spark, "events -A -B --rows 500 -c k:i=k", sf_dir=sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert json_parses(df) == {"from_json": 0, "get_json_object": 1}


def test_ordered_budget_keeps_top_n_heap_under_mappings(spark, sf_dir):
    """A -p selection's --rows budget is an ordered limit: with several
    mapped paths it must still plan as a top-N heap, not a global sort
    (two projections between the limit and its sort would break that)."""
    from fluvio_duck_spark.sources.consume import fluvio_consume

    df = fluvio_consume(spark, f"events -p 2 -B --rows 50 {_FIVE_MAPPINGS}",
                        sf_dir=sf_dir)
    df.write.format("noop").mode("overwrite").save()
    ops = assert_plan(df, Exchange=0, Sort=0)
    assert ops["TakeOrderedAndProject"] == 1
