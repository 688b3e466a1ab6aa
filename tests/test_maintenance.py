"""Maintenance-surface operators: MERGE apply, snapshot diff, skyline,
portable checksum — semantics pinned on small crafted frames plus
layout-independence checks (the properties the oracle can't see)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )


def test_merge_all_four_branches(spark):
    from fluvio_duck_spark.operators.merge import merge_upsert

    changes = spark.createDataFrame(
        [
            (2, "U", "B", 21.0),   # matched update
            (3, "D", None, None),  # matched delete
            (9, "I", "Z", 90.0),   # unmatched insert
            (8, "D", None, None),  # unmatched delete -> no-op
        ],
        "k long, _op string, new_s string, new_v double",
    )
    got = {
        r.k: (r.s, r.v)
        for r in merge_upsert(
            _base(spark), changes, key="k",
            set_cols={"s": "new_s", "v": "new_v"},
        ).collect()
    }
    assert got == {
        1: ("a", 10.0),   # carry-through
        2: ("B", 21.0),   # updated
        4: ("d", 40.0),   # carry-through
        9: ("Z", 90.0),   # inserted
    }


def test_merge_upsert_u_without_match_inserts_and_i_with_match_updates(spark):
    from fluvio_duck_spark.operators.merge import merge_upsert

    changes = spark.createDataFrame(
        [(7, "U", "new", 70.0), (1, "I", "re", 11.0)],
        "k long, _op string, new_s string, new_v double",
    )
    got = {
        r.k: (r.s, r.v)
        for r in merge_upsert(
            _base(spark), changes, key="k",
            set_cols={"s": "new_s", "v": "new_v"},
        ).collect()
    }
    assert got[7] == ("new", 70.0)  # upsert: U without match inserts
    assert got[1] == ("re", 11.0)   # idempotent: I with match updates
    assert len(got) == 5


def test_merge_unmapped_column_null_on_insert_kept_on_update(spark):
    from fluvio_duck_spark.operators.merge import merge_upsert

    changes = spark.createDataFrame(
        [(2, "U", 22.0), (9, "I", 99.0)], "k long, _op string, new_v double"
    )
    got = {
        r.k: (r.s, r.v)
        for r in merge_upsert(
            _base(spark), changes, key="k", set_cols={"v": "new_v"}
        ).collect()
    }
    assert got[2] == ("b", 22.0)   # unmapped s kept on update
    assert got[9] == (None, 99.0)  # unmapped s NULL on insert


def test_snapshot_diff_classes_and_null_safety(spark):
    from fluvio_duck_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None), (4, "w"), (5, None)],
        "k long, c string",
    )
    new = spark.createDataFrame(
        [(1, "x"), (3, "now"), (4, None), (5, None), (6, "new")],
        "k long, c string",
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, key="k").collect()}
    # 1: unchanged (dropped); 5: NULL==NULL unchanged (dropped)
    assert got == {
        2: "removed",
        3: "changed",   # NULL -> value
        4: "changed",   # value -> NULL
        6: "added",
    }


def test_skyline_matches_bruteforce_any_layout(spark):
    import random

    random.seed(11)
    rows = [(i, float(random.randint(0, 50)), random.randint(0, 50))
            for i in range(400)]
    # force duplicate frontier points: ties must all survive
    rows += [(1000, 0.0, 50), (1001, 0.0, 50)]
    df = spark.createDataFrame(rows, "id long, cost double, gain int")

    def dominated(a, others):
        return any(
            b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])
            for b in others
        )

    expect = sorted(r[0] for r in rows if not dominated(r, rows))

    from fluvio_duck_spark.operators.skyline import skyline2d

    for parts in (1, 7):
        got = sorted(
            r.id
            for r in skyline2d(
                df.repartition(parts), "cost", "gain"
            ).collect()
        )
        assert got == expect, parts


def test_checksum_order_and_partitioning_invariant(spark):
    from fluvio_duck_spark.functions.checksum import table_checksum

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "k long, s string"
    )
    a = table_checksum(df, ["k", "s"], "t").collect()[0]
    b = table_checksum(
        df.repartition(5).sortWithinPartitions(F.desc("k")), ["k", "s"], "t"
    ).collect()[0]
    assert (a.n_rows, a.checksum) == (b.n_rows, b.checksum)


def test_checksum_detects_single_cell_change_and_null_vs_empty(spark):
    from fluvio_duck_spark.functions.checksum import table_checksum

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    tweaked = spark.createDataFrame([(1, "a"), (2, "c")], "k long, s string")
    nullish = spark.createDataFrame([(1, "a"), (2, None)], "k long, s string")
    empty = spark.createDataFrame([(1, "a"), (2, "")], "k long, s string")
    cks = {
        name: table_checksum(d, ["k", "s"], "t").collect()[0].checksum
        for name, d in [("base", base), ("tweak", tweaked),
                        ("null", nullish), ("empty", empty)]
    }
    assert len(set(cks.values())) == 4  # all distinct; NULL != ''


def test_checksum_matches_duckdb_fold_exactly(spark):
    """The generated SQL fold and the Spark fold are the same arithmetic:
    run both over the same tiny relation and compare the number."""
    import duckdb

    from fluvio_duck_spark.functions.checksum import (
        checksum_sql,
        table_checksum,
    )

    rows = [(1, "alpha"), (2, "beta"), (3, None), (4, "Ω-unicode")]
    df = spark.createDataFrame(rows, "k long, s string")
    got = table_checksum(df, ["k", "s"], "t").collect()[0]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = con.execute(checksum_sql("t", ["k", "s"])).fetchone()
    assert (got.table_name, got.n_rows, got.checksum) == want


def test_checksum_delimiter_shift_and_backslash_values(spark):
    """ADVICE r3: ('a|b','c') vs ('a','b|c') must checksum differently
    (delimiter escaping), and values containing backslashes must not
    alias the NULL sentinel — checked cross-engine so the escaping is
    literally the same in both folds."""
    import duckdb

    from fluvio_duck_spark.functions.checksum import (
        checksum_sql,
        table_checksum,
    )

    shift_a = spark.createDataFrame([("a|b", "c")], "x string, y string")
    shift_b = spark.createDataFrame([("a", "b|c")], "x string, y string")
    ca = table_checksum(shift_a, ["x", "y"], "t").collect()[0].checksum
    cb = table_checksum(shift_b, ["x", "y"], "t").collect()[0].checksum
    assert ca != cb

    tricky = [("a|b", "c"), ("x\\N", None), ("\\", "|"), (None, "\\|")]
    df = spark.createDataFrame(tricky, "x string, y string")
    got = table_checksum(df, ["x", "y"], "t").collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x VARCHAR, y VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", tricky)
    want = con.execute(checksum_sql("t", ["x", "y"])).fetchone()
    assert (got.table_name, got.n_rows, got.checksum) == want
    # 4 distinct-content rows: every pairwise single-row swap flips it
    one_less = table_checksum(
        df.limit(3), ["x", "y"], "t").collect()[0].checksum
    assert one_less != got.checksum


def test_checksum_stays_in_bigint_range_at_any_cardinality(spark):
    """ADVICE r3 (medium): the reported checksum is the DECIMAL(38,0)
    fold sum mod the largest prime < 2^63, so it fits BIGINT on every
    engine at any row count.  Drive the accumulator past int64 overflow
    (3e9 rows x the max ~3.9e9 per-row fold > 2^63) and assert Spark's
    pmod and DuckDB's % both land on the exact Python value — the old
    bare cast returned silent NULL on Spark and raised on DuckDB right
    at the scale the audit is documented for."""
    import duckdb

    from fluvio_duck_spark.functions.checksum import (
        CHECKSUM_MODULUS,
        fold_sum,
    )

    # 3M rows x an inflated per-row value still exceeds 2^63 (fold_sum
    # doesn't bound rc), proving the same overflow property at ~1/1000th
    # the runtime of the original 3e9-row version (ADVICE r4).
    n, per_row = 3_000_000, 3_900_000_000_000
    expect = (n * per_row) % CHECKSUM_MODULUS
    assert n * per_row > 2**63  # the scenario actually overflows int64

    got = (
        spark.range(n)
        .select(F.lit(per_row).alias("rc"))
        .agg(fold_sum(F.col("rc")).alias("checksum"))
        .collect()[0]
        .checksum
    )
    assert got == expect and 0 <= got < CHECKSUM_MODULUS

    want = duckdb.sql(
        f"SELECT CAST(SUM(CAST({per_row} AS DECIMAL(38,0)))"
        f" % {CHECKSUM_MODULUS} AS BIGINT) FROM range({n})"
    ).fetchone()[0]
    assert want == expect


def test_snapshot_writer_fold_matches_sql_folds_on_adversarial_rows(
    spark, tmp_path
):
    """The snapshot writer folds each row's JVM md5 in its Arrow worker
    (``md5_fold_terms``); the audits fold the same md5 in SQL.  Over
    NULL, '', the delimiter, a backslash, a literal backslash-N,
    non-ASCII text and negative ints, committed by create + append, the
    manifest audit of each version equals the Spark SQL fold over the
    version's rows and DuckDB's ``checksum_sql`` over the same rows."""
    import duckdb

    from fluvio_duck_spark.functions.checksum import (
        checksum_sql,
        table_checksum,
    )
    from fluvio_duck_spark.operators import snapshots as snap

    cols = ["k", "s", "pt"]
    first = [
        (-1, None, 0), (0, "", 0), (-2**40, "|", 1), (7, "\\", 1),
        (8, "\\N", 0), (9, "Ω-ünïcødé ✓", 1), (-10, "a|b\\|c", 0),
    ]
    second = [(-3, "\\N|\\", 1), (11, "日本語", 0), (12, None, 1)]
    schema = "k long, s string, pt int"
    root = str(tmp_path / "tbl")
    snap.create_table(spark, root, spark.createDataFrame(first, schema),
                      "pt", cols)
    snap.append(spark, root, spark.createDataFrame(second, schema))

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, s VARCHAR, pt INTEGER)")
    for v, rows in ((1, first), (2, first + second)):
        con.execute("DELETE FROM t")
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
        _label, d_rows, d_ck = con.execute(checksum_sql("t", cols)).fetchone()
        got = table_checksum(
            snap.read_version_as_of(spark, root, v), cols, "t"
        ).first()
        assert snap.manifest_audit(root, v) == (got.n_rows, got.checksum) \
            == (d_rows, d_ck) == (len(rows), d_ck), v


def test_md5_fold_terms_on_sliced_multichunk_arrow_matches_per_row():
    """The writer's hex -> term helper reads each chunk's offsets and
    data buffers directly: a sliced chunk (non-zero array offset) and a
    large_string chunk must fold exactly like the per-row definition."""
    import hashlib

    import pyarrow as pa

    from fluvio_duck_spark.functions.checksum import (
        _WEIGHTS,
        md5_fold_terms,
    )

    hexes = [hashlib.md5(str(i).encode()).hexdigest() for i in range(50)]
    arr = pa.chunked_array([
        pa.array(hexes[:20]).slice(5, 10),
        pa.array([], pa.string()),
        pa.array(hexes[20:]).slice(3),
    ])
    want_hex = hexes[5:15] + hexes[23:]

    def ref(h):
        return sum(ord(c) * w for c, w in zip(h, _WEIGHTS))

    assert md5_fold_terms(arr).tolist() == [ref(h) for h in want_hex]
    large = pa.array(hexes, pa.large_string()).slice(7, 4)
    assert md5_fold_terms(large).tolist() == [ref(h) for h in hexes[7:11]]


def test_attribution_first_last_and_direct(spark, sf_dir):
    """Crafted journey: view -> click -> purchase credits first=view,
    last=click; a user whose first event is a purchase credits direct."""
    import datetime as dt

    from fluvio_duck_spark.queries.pipeline import q_attrib_first_last_touch

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10, "view", 0.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 10, "click", 0.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 10, "purchase", 5.0, "{}"),
        (4, t0, 20, "purchase", 7.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    )
    import os
    import tempfile

    work = os.path.join(tempfile.gettempdir(), "attrib_unit")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(work, "events.parquet")
    )
    got = {r.channel: (r.n_first, r.value_first, r.n_last, r.value_last)
           for r in q_attrib_first_last_touch(spark, work).collect()}
    assert got == {
        "view": (1, 5.0, 0, 0.0),
        "click": (0, 0.0, 1, 5.0),
        "direct": (1, 7.0, 1, 7.0),
    }


def test_cohens_kappa_value_is_consistent(spark, sf_dir):
    """kappa recomputed from the surfaced confusion counts equals the
    surfaced kappa (internal consistency), and raters that agree on ~2/3
    of rows give 0 < kappa < raw agreement."""
    from fluvio_duck_spark.queries.pipeline import q_eval_cohens_kappa

    r = q_eval_cohens_kappa(spark, sf_dir).collect()[0]
    n, a, b, c, d = r.n, r.a, r.b, r.c, r.d
    po = (a + d) / n
    pe = ((a + b) * (a + c) + (c + d) * (b + d)) / (n * n)
    assert abs(r.kappa - round((po - pe) / (1 - pe), 6)) < 1e-9
    assert 0 < r.kappa < po


def test_diff_then_merge_roundtrip_reconstructs_new(spark):
    """Algebraic contract tying the two operators: applying the change
    feed that snapshot_diff emits onto the old snapshot reconstructs the
    new snapshot exactly — for random frames and any partitioning."""
    import random

    from fluvio_duck_spark.operators.diff import snapshot_diff
    from fluvio_duck_spark.operators.merge import merge_upsert

    random.seed(23)
    old_rows = [(k, random.choice(["a", "b", None]), float(random.randint(0, 9)))
                for k in range(60)]
    new_rows = [(k, random.choice(["a", "b", "c", None]), float(random.randint(0, 9)))
                for k in range(20, 80)]
    old = spark.createDataFrame(old_rows, "k long, s string, v double")
    new = spark.createDataFrame(new_rows, "k long, s string, v double")

    d = snapshot_diff(old.repartition(5), new.repartition(3), key="k")
    feed = d.selectExpr(
        "k",
        "CASE change WHEN 'removed' THEN 'D' ELSE 'U' END AS _op",
        "new_s", "new_v",
    )
    rebuilt = merge_upsert(
        old, feed, key="k", set_cols={"s": "new_s", "v": "new_v"}
    )
    assert sorted(map(tuple, rebuilt.collect())) == sorted(new_rows)


def test_fuzzy_join_links_typos_and_is_layout_stable(spark):
    """Known typos link back to their source; an unrelated string does
    not cross the threshold; result is identical under repartitioning."""
    from fluvio_duck_spark.operators.linkage import fuzzy_join

    clean = spark.createDataFrame(
        [("red widget",), ("blue bolt",), ("small gear",)], "clean string"
    )
    dirty = spark.createDataFrame(
        [("red widgt",), ("blu bolt",), ("zzzzqqq",)], "dirty string"
    )
    got = {
        r.dirty: r.clean
        for r in fuzzy_join(clean, dirty, "clean", "dirty",
                            threshold=0.3).collect()
    }
    assert got == {"red widgt": "red widget", "blu bolt": "blue bolt"}

    again = {
        r.dirty: r.clean
        for r in fuzzy_join(
            clean.repartition(4), dirty.repartition(3), "clean", "dirty",
            threshold=0.3,
        ).collect()
    }
    assert again == got


def test_fuzzy_join_max_gram_df_bounds_fanout_keeps_matches(spark):
    """With a stop-gram bound the join still links distinctive typos —
    the bound drops only corpus-wide grams (here ' wi' style shared
    grams survive since df is small, so results are unchanged)."""
    from fluvio_duck_spark.operators.linkage import fuzzy_join

    clean = spark.createDataFrame(
        [("red widget",), ("blue bolt",)], "clean string"
    )
    dirty = spark.createDataFrame([("red widgt",)], "dirty string")
    got = fuzzy_join(
        clean, dirty, "clean", "dirty", threshold=0.3, max_gram_df=10
    ).collect()
    assert len(got) == 1 and got[0].clean == "red widget"


def test_merge_left_branch_broadcasts_small_changes(spark):
    """The scale claim as a plan assertion: with a broadcast-hinted
    change set, the matched branch plans a BroadcastHashJoin (LEFT
    OUTER), never a sort-merge of the base — the property full-outer
    MERGE rewrites cannot have."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.merge import merge_upsert

    base = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    changes = spark.createDataFrame(
        [(1, "U", 99), (20000, "I", 5)], "k long, _op string, new_v long"
    )
    out = merge_upsert(base, F.broadcast(changes), key="k",
                       set_cols={"v": "new_v"})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    got = {r.k: r.v for r in out.collect()}
    assert got[1] == 99 and got[20000] == 5 and len(got) == 10001


def test_ivm_retraction_of_group_minimum_and_vanishing_group(spark):
    """The two IVM edge cases the additive path can't fake: retracting a
    group's current minimum forces the affected-group recompute to find
    the runner-up, and retracting a group's last row removes the group."""
    from fluvio_duck_spark.operators.ivm import (
        IvmMeasure,
        agg_state,
        apply_delta,
    )

    m = [
        IvmMeasure("n", "v", "count"),
        IvmMeasure("s", "v", "sum"),
        IvmMeasure("lo", "v", "min"),
    ]
    base = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("b", 7.0)], "k string, v double"
    )
    d_plus = spark.createDataFrame([("c", 2.0)], "k string, v double")
    d_minus = spark.createDataFrame(
        [("a", 1.0), ("b", 7.0)], "k string, v double"
    )
    base_after = spark.createDataFrame(
        [("a", 5.0), ("c", 2.0)], "k string, v double"
    )
    got = {
        r.k: (r.n, float(r.s), r.lo)
        for r in apply_delta(
            agg_state(base, ["k"], m), base_after, d_plus, d_minus, ["k"], m
        ).collect()
    }
    assert got == {
        "a": (1, 5.0, 5.0),  # min recomputed to the runner-up
        "c": (1, 2.0, 2.0),  # brand-new group from the delta
    }  # and b vanished with its last row


def test_ivm_group_exit_without_count_and_with_nullable_count(spark):
    """ADVICE r3: group exit is driven by the internal count(*) state —
    (a) a view with NO user count measure must still drop a fully
    retracted group (no zombie zero-sum rows), and (b) a user count over
    a nullable column is a VALUE count: retracting all the non-NULL
    values must leave the group alive (count 0) while rows remain."""
    from fluvio_duck_spark.operators.ivm import (
        IvmMeasure,
        agg_state,
        apply_delta,
    )

    # (a) sum-only view: group b fully retracted -> must vanish
    m = [IvmMeasure("s", "v", "sum")]
    base = spark.createDataFrame(
        [("a", 1.0), ("b", 7.0), ("b", 3.0)], "k string, v double"
    )
    d_plus = spark.createDataFrame([], "k string, v double")
    d_minus = spark.createDataFrame(
        [("b", 7.0), ("b", 3.0)], "k string, v double"
    )
    base_after = spark.createDataFrame([("a", 1.0)], "k string, v double")
    got = {
        r.k: float(r.s)
        for r in apply_delta(
            agg_state(base, ["k"], m), base_after, d_plus, d_minus, ["k"], m
        ).collect()
    }
    assert got == {"a": 1.0}  # no zombie ("b", 0.0) row

    # (b) nullable count column: a's non-NULL values all retract, but a
    # NULL-valued row remains -> group stays with value-count 0
    m2 = [IvmMeasure("n", "v", "count")]
    base2 = spark.createDataFrame(
        [("a", 5.0), ("a", None)], "k string, v double"
    )
    d_minus2 = spark.createDataFrame([("a", 5.0)], "k string, v double")
    base_after2 = spark.createDataFrame([("a", None)], "k string, v double")
    got2 = {
        r.k: r.n
        for r in apply_delta(
            agg_state(base2, ["k"], m2), base_after2,
            d_plus, d_minus2, ["k"], m2,
        ).collect()
    }
    assert got2 == {"a": 0}  # alive (one row left), value count 0


def test_ivm_equals_full_refresh_any_layout(spark):
    """incremental apply over random splits equals agg over the final
    relation, for 1 and 7 partitions."""
    import random

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.ivm import (
        IvmMeasure,
        agg_state,
        apply_delta,
    )

    random.seed(31)
    rows = [(i, f"g{i % 6}", float(random.randint(1, 99)))
            for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    m = [
        IvmMeasure("n", "v", "count"),
        IvmMeasure("s", "v", "sum"),
        IvmMeasure("hi", "v", "max"),
    ]
    base = df.filter(F.col("id") % 5 != 0)
    d_plus = df.filter(F.col("id") % 5 == 0)
    d_minus = df.filter(F.col("id") % 7 == 3)
    base_after = df.filter(F.col("id") % 7 != 3)

    want = sorted(
        (r.k, r.n, float(r.s), r.hi)
        for r in agg_state(base_after, ["k"], m).collect()
    )
    for parts in (1, 7):
        got = sorted(
            (r.k, r.n, float(r.s), r.hi)
            for r in apply_delta(
                agg_state(base.repartition(parts), ["k"], m),
                base_after.repartition(parts),
                d_plus, d_minus, ["k"], m,
            ).collect()
        )
        assert got == want, parts


def test_snapshot_versions_are_immutable_and_cow_scoped(spark, tmp_path):
    """Manifest-versioned table invariants (VERDICT r11 #4):
    version-as-of reads reproduce byte-for-byte under later mutations,
    COW merge rewrites ONLY touched partitions (carried files byte-
    stable by mtime), compaction preserves the audit pair or refuses,
    and rollback is a pointer flip that writes no data files."""
    import os

    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    df = spark.range(80).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
        F.pmod(F.col("id"), F.lit(4)).alias("pt"),
    )
    snap.create_table(spark, root, df, "pt", ["k", "val", "pt"])
    v1_rows = sorted(tuple(r) for r in
                     snap.read_version_as_of(spark, root, 1).collect())

    def mtimes():
        out = {}
        for base, _dirs, files in os.walk(os.path.join(root, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(base, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = mtimes()
    # merge touches ONLY partition 2: delete k%8==2, patch k%8==6
    feed = df.filter(F.col("pt") == 2).select(
        "k",
        F.when(F.col("k") % 8 == 2, F.lit("D")).otherwise(F.lit("U"))
        .alias("_op"),
        F.lit("patched").alias("nv"),
        "pt",
    )
    v2 = snap.merge_into(spark, root, feed, key="k",
                         set_cols={"val": "nv"})
    assert v2 == 2
    after = mtimes()
    # every v1 file is byte-stable (immutability), only gen2 is new
    for p, t in before.items():
        assert after[p] == t, f"v1 data file rewritten: {p}"
    new_files = set(after) - set(before)
    assert new_files and all("gen2" in p for p in new_files)
    # COW scope: gen2 holds ONLY partition 2
    assert all("__pt=2" in p for p in new_files)

    # v1 time travel reproduces exactly after the mutation
    assert sorted(tuple(r) for r in
                  snap.read_version_as_of(spark, root, 1).collect()) \
        == v1_rows
    # merged content: partition-2 deletes gone, patches applied
    got = {r.k: r.val
           for r in snap.read_version_as_of(spark, root, 2).collect()}
    assert 2 not in got and got[6] == "patched" and got[1] == "v1"
    assert len(got) == 80 - 10  # 10 keys deleted (k%8==2)

    # manifest audit == physical audit for both versions
    from fluvio_duck_spark.functions.checksum import fold_sum, row_checksum

    for v in (1, 2):
        m_rows, m_fold = snap.manifest_audit(root, v)
        r = snap.read_version_as_of(spark, root, v).agg(
            F.count("*").alias("n"),
            fold_sum(row_checksum(["k", "val", "pt"])).alias("f"),
        ).collect()[0]
        assert (r.n, r.f) == (m_rows, m_fold), v

    # compaction preserves the audit pair and the v2 read
    before_compact = mtimes()
    v3 = snap.compact(spark, root)
    assert snap.manifest_audit(root, v3) == snap.manifest_audit(root, 2)
    for p, t in before_compact.items():
        assert mtimes()[p] == t, f"compaction rewrote a committed file: {p}"

    # rollback writes NO data files and restores v1 exactly
    before_rb = mtimes()
    v4 = snap.rollback(root, 1)
    assert mtimes() == before_rb
    assert sorted(tuple(r) for r in
                  snap.read_version_as_of(spark, root, v4).collect()) \
        == v1_rows
    assert snap.current_version(root) == v4 == 4


def test_snapshot_compact_refuses_on_content_drift(spark, tmp_path, monkeypatch):
    """The compaction commit must refuse to advance HEAD if the rewrite
    does not reproduce the parent's audit pair."""
    import pytest

    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.lit("x").alias("val"),
        F.pmod(F.col("id"), F.lit(2)).alias("pt"),
    )
    snap.create_table(spark, root, df, "pt", ["k", "val", "pt"])
    orig = snap.read_version_as_of

    def corrupted(spark_, root_, v_):
        return orig(spark_, root_, v_).filter(F.col("k") != 0)

    monkeypatch.setattr(snap, "read_version_as_of", corrupted)
    with pytest.raises(ValueError, match="audit mismatch"):
        snap.compact(spark, root)
    monkeypatch.setattr(snap, "read_version_as_of", orig)
    assert snap.current_version(root) == 1, "refused commit advanced HEAD"


def test_snapshot_changes_prunes_identical_partitions(spark, tmp_path):
    """The CDF read must plan only partitions whose manifest file sets
    differ: after a merge touching partition 2 plus an append into
    partitions 0/1, partition 3's files appear in NEITHER side of the
    diff scan, and the feed equals the unpruned full diff."""
    from fluvio_duck_spark.operators import snapshots as snap
    from fluvio_duck_spark.operators.diff import snapshot_diff

    root = str(tmp_path / "tbl")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
        F.pmod(F.col("id"), F.lit(4)).alias("pt"),
    )
    snap.create_table(spark, root, df, "pt", ["k", "val", "pt"])
    appended = spark.range(40, 50).select(
        F.col("id").alias("k"),
        F.lit("new").alias("val"),
        F.pmod(F.col("id"), F.lit(2)).alias("pt"),  # partitions 0/1 only
    )
    snap.append(spark, root, appended)
    feed = df.filter(F.col("pt") == 2).select(
        "k", F.lit("U").alias("_op"), F.lit("patched").alias("nv"), "pt"
    )
    snap.merge_into(spark, root, feed, key="k", set_cols={"val": "nv"})

    changes = snap.snapshot_changes(
        spark, root, 1, 3, key="k", compare_cols=["val"]
    )
    opened = changes.inputFiles()
    assert opened, "diff should read the touched partitions"
    assert all("__pt=3" not in p for p in opened), (
        "identical partition 3 was read despite manifest pruning"
    )
    # pruned feed == unpruned full diff
    full = snapshot_diff(
        snap.read_version_as_of(spark, root, 1),
        snap.read_version_as_of(spark, root, 3),
        key="k", compare_cols=["val"],
    )
    assert sorted(map(tuple, changes.collect())) \
        == sorted(map(tuple, full.collect()))


def test_snapshot_vacuum_preserves_retained_versions(spark, tmp_path):
    """VACUUM removes exactly the files no retained manifest references;
    retained as-of reads are byte-identical, older versions die."""
    import pytest

    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.lit("a").alias("val"),
        F.pmod(F.col("id"), F.lit(4)).alias("pt"),
    )
    snap.create_table(spark, root, df, "pt", ["k", "val", "pt"])
    feed = df.filter(F.col("pt") == 1).select(
        "k", F.lit("U").alias("_op"), F.lit("b").alias("nv"), "pt"
    )
    snap.merge_into(spark, root, feed, key="k", set_cols={"val": "nv"})
    snap.compact(spark, root)  # v3 rewrites everything
    v3_rows = sorted(tuple(r) for r in
                     snap.read_version_as_of(spark, root, 3).collect())

    out = snap.vacuum(root, retain_from_version=3)
    # v3 is a full rewrite: every v1/v2 file (4 create + 1 merge gen)
    # is unreferenced and removed
    assert out["removed"] == 5 and out["live"] == 4
    assert sorted(tuple(r) for r in
                  snap.read_version_as_of(spark, root, 3).collect()) \
        == v3_rows
    assert snap.manifest_audit(root, 3) == snap.manifest_audit(root, 2)
    with pytest.raises(Exception):
        snap.read_version_as_of(spark, root, 1).collect()
    with pytest.raises(ValueError):
        snap.vacuum(root, retain_from_version=99)


def test_snapshot_pruned_read_consults_manifest_stats(spark, tmp_path):
    """Manifest-stats pruning invariants: the plan comes from the
    MANIFEST (tampering an entry's bloom words changes the plan with no
    parquet file touched), a stats-less table degrades to the full file
    list, an out-of-band probe plans ZERO files yet returns a
    schema-stable empty frame, and the pruned read equals the full
    as-of read under the exact predicate."""
    import json
    import os

    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
        F.pmod(F.col("id"), F.lit(2)).alias("pt"),
    )
    snap.create_table(spark, root, df, "pt", ["k", "val", "pt"],
                      stats_col="k")
    appended = spark.range(1000, 1040).select(
        F.col("id").alias("k"),
        F.lit("new").alias("val"),
        F.pmod(F.col("id"), F.lit(2)).alias("pt"),
    )
    snap.append(spark, root, appended)

    # appended-band probe: range stats exclude both gen1 files
    probe = 1007
    pruned, planned, total = snap.read_as_of_pruned(spark, root, 2, probe)
    assert total == 4 and 1 <= planned <= 2  # its file + possible FP
    got = sorted(tuple(r) for r in
                 pruned.filter(F.col("k") == probe).collect())
    want = sorted(tuple(r) for r in
                  snap.read_version_as_of(spark, root, 2)
                  .filter(F.col("k") == probe).collect())
    assert got == want and len(got) == 1

    # base-band probe at v1 still resolves after the append
    paths1, planned1, total1 = snap.plan_as_of_pruned(root, 1, 7)
    assert total1 == 2 and planned1 >= 1
    assert all("gen1" in p for p in paths1)

    # out-of-band probe: zero files planned, schema-stable empty read
    empty, planned0, _ = snap.read_as_of_pruned(spark, root, 2, 500)
    assert planned0 == 0 and empty.count() == 0
    assert empty.columns == snap.read_version_as_of(
        spark, root, 2).columns

    # the plan consults the MANIFEST, not parquet footers: clear the
    # probe's file's bloom words in the manifest json and the file
    # drops from the plan (a deliberate false negative) with no data
    # file modified
    mpath = os.path.join(root, "_manifests", "v2.json")
    m = json.load(open(mpath))
    victims = [e for e in m["files"] if e["smin"] <= probe <= e["smax"]]
    assert victims
    mt_before = {e["path"]: os.path.getmtime(e["path"])
                 for e in m["files"]}
    for e in victims:
        e["w0"] = 0
        e["w1"] = 0
    json.dump(m, open(mpath, "w"))
    _, planned_t, _ = snap.plan_as_of_pruned(root, 2, probe)
    assert planned_t == 0
    assert {p: os.path.getmtime(p) for p in mt_before} == mt_before

    # a table created WITHOUT stats_col degrades to the full list
    root2 = str(tmp_path / "nostats")
    snap.create_table(spark, root2, df, "pt", ["k", "val", "pt"])
    _, planned_ns, total_ns = snap.plan_as_of_pruned(root2, 1, 7)
    assert planned_ns == total_ns == 2


def test_snapshot_optimize_zorder_clusters_and_preserves(spark, tmp_path):
    """OPTIMIZE ZORDER commit invariants: files collapse to one per
    partition, prior versions' files stay byte-stable (mtime), the
    audit pair is preserved, rows inside every rewritten file are
    sorted by the Morton key, and manifest stats keep pruning correctly
    on the optimized version.  A NULL order key clusters first, as an
    ascending Spark sort places it."""
    import os

    from fluvio_duck_spark.operators import snapshots as snap
    from fluvio_duck_spark.operators.layout import zorder_key

    root = str(tmp_path / "tbl")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id") * 37, F.lit(64)).alias("a"),
        F.pmod(F.col("id") * 11, F.lit(64)).alias("b"),
        F.pmod(F.col("id"), F.lit(2)).alias("pt"),
    )
    null_key = spark.createDataFrame(
        [(5000, None, 3, 0)], "k long, a long, b long, pt long"
    )
    df = df.unionByName(null_key)
    cols = ["k", "a", "b", "pt"]
    snap.create_table(spark, root, df, "pt", cols, stats_col="k")
    appended = df.select(
        (F.col("k") + 1000).alias("k"), "a", "b", "pt"
    )
    snap.append(spark, root, appended)

    def mtimes():
        out = {}
        for base, _dirs, files in os.walk(os.path.join(root, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(base, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = mtimes()
    v3 = snap.optimize_zorder(spark, root, ["a", "b"])
    assert v3 == 3
    m3 = snap.load_manifest(root, 3)
    assert len(m3["files"]) == 2  # one per partition, 4 -> 2
    # committed files byte-stable; audit preserved
    after = mtimes()
    for p, t in before.items():
        assert after[p] == t, f"optimize rewrote a committed file: {p}"
    assert snap.manifest_audit(root, 3) == snap.manifest_audit(root, 2)

    # rows within each optimized file are Morton-sorted
    rows = (
        snap.read_version_as_of(spark, root, 3)
        .withColumn("__file", F.input_file_name())
        .withColumn("__zk", zorder_key(F.col("a"), F.col("b")))
        .select("__file", "__zk")
        .collect()
    )
    by_file = {}
    for r in rows:
        by_file.setdefault(r["__file"], []).append(r["__zk"])
    assert len(by_file) == 2
    nulls = [f for f, zks in by_file.items() if None in zks]
    assert len(nulls) == 1 and by_file[nulls[0]][0] is None, (
        "NULL order key must be the first row of its file"
    )
    for f, zks in by_file.items():
        zks = [z for z in zks if z is not None]
        assert zks == sorted(zks), f"file not Morton-clustered: {f}"

    # stats survive the rewrite: pruning at v3 still finds the key
    pruned, planned, total = snap.read_as_of_pruned(spark, root, 3, 1007)
    assert total == 2 and planned >= 1
    assert pruned.filter(F.col("k") == 1007).count() == 1


def _mk_table(spark, root, n=40, parts=4):
    from fluvio_duck_spark.operators import snapshots as snap

    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
        F.pmod(F.col("id"), F.lit(parts)).alias("pt"),
    )
    snap.create_table(spark, root, df, "pt", ["k", "val", "pt"])
    return df


def test_snapshot_two_writer_race_exactly_one_wins(spark, tmp_path):
    """VERDICT r12 #3: optimistic concurrency — when two writers commit
    the same version, exactly one wins and the loser gets
    ConcurrentCommitError (never a silent overwrite)."""
    import threading

    import pytest

    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    _mk_table(spark, root)
    m = snap.load_manifest(root, 1)

    # deterministic interleaving: both writers derived version 2 from
    # the same stale head; the second manifest link must fail
    snap._commit(root, 2, "append", 1, m["files"], "pt",
                 ["k", "val", "pt"], schema=m["schema"])
    with pytest.raises(snap.ConcurrentCommitError, match="version 2"):
        snap._commit(root, 2, "append", 1, m["files"], "pt",
                     ["k", "val", "pt"], schema=m["schema"])
    assert snap.current_version(root) == 2

    # threaded race at version 3: exactly one winner
    barrier = threading.Barrier(2)
    outcomes = []

    def writer(tag):
        barrier.wait()
        try:
            snap._commit(root, 3, "append", 2, m["files"], "pt",
                         ["k", "val", "pt"], schema=m["schema"])
            outcomes.append(("win", tag))
        except snap.ConcurrentCommitError:
            outcomes.append(("lose", tag))

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(o for o, _ in outcomes) == ["lose", "win"]
    assert snap.current_version(root) == 3
    # the winning manifest is complete, valid JSON (atomic publish)
    assert snap.load_manifest(root, 3)["op"] == "append"


def test_snapshot_head_crash_recovery_falls_forward(spark, tmp_path):
    """ADVICE r12: the manifest link is the commit point; a crash
    before the HEAD rename must not wedge the table.  Simulate the
    crash by publishing a manifest without advancing HEAD — readers
    fall forward to it and the next commit builds on top."""
    import json
    import os

    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    _mk_table(spark, root)
    m = snap.load_manifest(root, 1)
    # "crash": manifest v2 exists, HEAD still says 1
    crash = dict(m, version=2, op="append", parent=1)
    tmp = os.path.join(root, "_manifests", ".crash.tmp")
    with open(tmp, "w") as fh:
        json.dump(crash, fh)
    os.link(tmp, snap._manifest_path(root, 2))
    os.unlink(tmp)
    with open(os.path.join(root, snap._HEAD)) as fh:
        assert fh.read().strip() == "1", "test setup: HEAD must trail"

    assert snap.current_version(root) == 2, "reader must fall forward"
    v3 = snap.append(
        spark, root,
        spark.range(100, 105).select(
            F.col("id").alias("k"), F.lit("x").alias("val"),
            F.pmod(F.col("id"), F.lit(4)).alias("pt"),
        ),
    )
    assert v3 == 3 and snap.current_version(root) == 3
    assert snap.read_version_as_of(spark, root, 3).count() == 45


def test_snapshot_merge_all_deletes_commits_empty_generation(
    spark, tmp_path
):
    """ADVICE r12: a MERGE whose change feed deletes every row of its
    touched partitions (a legal MERGE) must commit — the generation is
    empty, carried files only.  Wiping the whole table yields a valid
    EMPTY version that still reads (schema from the manifest)."""
    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    df = _mk_table(spark, root)

    # delete every row of partition 2
    feed = df.filter(F.col("pt") == 2).select(
        "k", F.lit("D").alias("_op"), F.lit(None).cast("string").alias("nv"),
        "pt",
    )
    v2 = snap.merge_into(spark, root, feed, key="k", set_cols={"val": "nv"})
    got = snap.read_version_as_of(spark, root, v2)
    assert got.filter(F.col("pt") == 2).count() == 0
    assert got.count() == 30

    # wipe everything that remains
    feed_all = snap.read_version_as_of(spark, root, v2).select(
        "k", F.lit("D").alias("_op"), F.lit(None).cast("string").alias("nv"),
        "pt",
    )
    v3 = snap.merge_into(
        spark, root, feed_all, key="k", set_cols={"val": "nv"}
    )
    empty = snap.read_version_as_of(spark, root, v3)
    assert empty.count() == 0
    assert empty.columns == ["k", "val", "pt"]
    assert snap.manifest_audit(root, v3) == (0, 0)
    # and the table is still writable after the wipe
    v4 = snap.append(
        spark, root,
        spark.range(3).select(
            F.col("id").alias("k"), F.lit("re").alias("val"),
            F.lit(0).cast("bigint").alias("pt"),
        ),
    )
    assert snap.read_version_as_of(spark, root, v4).count() == 3


def test_snapshot_partition_values_with_uri_special_chars(
    spark, tmp_path
):
    """ADVICE r12: partition values containing ' ', ':' or '%' are
    %XX-escaped both in directory names and in input_file_name()'s URI;
    the commit must still match stats to files and record the LOGICAL
    value so a later merge's touched-set compare works."""
    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    vals = ["a:b", "c d", "p%1", "plain"]
    df = spark.createDataFrame(
        [(i, f"v{i}", vals[i % 4]) for i in range(16)],
        "k long, val string, pt string",
    )
    snap.create_table(spark, root, df, "pt", ["k", "val", "pt"])
    m = snap.load_manifest(root, 1)
    assert sorted(e["partition"] for e in m["files"]) == sorted(vals)
    assert snap.read_version_as_of(spark, root, 1).count() == 16

    # merge touching ONLY the 'a:b' partition
    feed = spark.createDataFrame(
        [(0, "U", "patched", "a:b")], "k long, _op string, nv string, pt string"
    )
    v2 = snap.merge_into(spark, root, feed, key="k", set_cols={"val": "nv"})
    m2 = snap.load_manifest(root, v2)
    gen2 = [e for e in m2["files"] if f"gen{v2}" in e["path"]]
    assert [e["partition"] for e in gen2] == ["a:b"], (
        "COW scope must be exactly the escaped-value partition"
    )
    got = {r.k: r.val
           for r in snap.read_version_as_of(spark, root, v2).collect()}
    assert got[0] == "patched" and got[1] == "v1"


def test_snapshot_schema_evolution_alter_add_column(spark, tmp_path):
    """VERDICT r12 #5: ALTER ADD COLUMN as a metadata-only commit.
    Every version reads with its own declared schema: pre-alter
    versions keep the narrow schema under time travel, post-alter reads
    NULL-backfill the new column for old generations, later appends
    populate it, and merge/compact/rollback all work across the
    boundary."""
    import os

    import pytest

    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    _mk_table(spark, root, n=20, parts=2)   # v1: k val pt

    def mtimes():
        out = {}
        for base, _d, files in os.walk(os.path.join(root, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(base, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = mtimes()
    v2 = snap.alter_add_column(root, "score", "double")
    assert v2 == 2
    assert mtimes() == before, "alter must move no data"
    assert snap.load_manifest(root, 2)["files"] \
        == snap.load_manifest(root, 1)["files"]

    # each version reads with its own schema
    assert snap.read_version_as_of(spark, root, 1).columns \
        == ["k", "val", "pt"]
    v2_df = snap.read_version_as_of(spark, root, 2)
    assert v2_df.columns == ["k", "val", "pt", "score"]
    assert v2_df.filter(F.col("score").isNull()).count() == 20

    # an append may now populate the column; old rows stay NULL
    v3 = snap.append(
        spark, root,
        spark.range(100, 104).select(
            F.col("id").alias("k"), F.lit("new").alias("val"),
            F.pmod(F.col("id"), F.lit(2)).alias("pt"),
            (F.col("id") * 1.5).alias("score"),
        ),
    )
    got = snap.read_version_as_of(spark, root, v3)
    assert got.filter(F.col("score").isNotNull()).count() == 4
    assert got.count() == 24

    # merge across the boundary: update score in an OLD generation row
    feed = spark.createDataFrame(
        [(1, "U", 9.5, 1)], "k long, _op string, ns double, pt bigint"
    )
    v4 = snap.merge_into(spark, root, feed, key="k",
                         set_cols={"score": "ns"})
    row = snap.read_version_as_of(spark, root, v4) \
        .filter(F.col("k") == 1).collect()[0]
    assert row.score == 9.5 and row.val == "v1"

    # compact across mixed-schema generations preserves the audit
    v5 = snap.compact(spark, root)
    assert snap.manifest_audit(root, v5) == snap.manifest_audit(root, v4)
    assert snap.read_version_as_of(spark, root, v5).columns \
        == ["k", "val", "pt", "score"]

    # rollback to the pre-alter version restores the NARROW schema
    v6 = snap.rollback(root, 1)
    assert snap.read_version_as_of(spark, root, v6).columns \
        == ["k", "val", "pt"]

    # guards: duplicate column; undeclared column on append
    with pytest.raises(ValueError, match="already declared"):
        snap.alter_add_column(root, "val", "string")
    with pytest.raises(ValueError, match="undeclared column"):
        snap.append(
            spark, root,
            spark.range(3).select(
                F.col("id").alias("k"), F.lit("x").alias("val"),
                F.lit(0).cast("bigint").alias("pt"),
                F.lit(1).alias("bogus"),
            ),
        )


def test_snapshot_alter_drop_column(spark, tmp_path):
    """DROP COLUMN as the companion metadata-only commit: bytes stay in
    the files, scan stops projecting them, pre-drop time travel still
    reads the column, structural columns are protected."""
    import os

    import pytest

    from fluvio_duck_spark.operators import snapshots as snap

    root = str(tmp_path / "tbl")
    _mk_table(spark, root, n=12, parts=2)
    snap.alter_add_column(root, "score", "bigint")
    v3 = snap.append(
        spark, root,
        spark.range(100, 104).select(
            F.col("id").alias("k"), F.lit("s").alias("val"),
            F.pmod(F.col("id"), F.lit(2)).alias("pt"),
            (F.col("id") * 2).alias("score"),
        ),
    )

    def mtimes():
        out = {}
        for base, _d, files in os.walk(os.path.join(root, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(base, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = mtimes()
    v4 = snap.alter_drop_column(root, "score")
    assert mtimes() == before, "drop must move no data"
    assert snap.read_version_as_of(spark, root, v4).columns \
        == ["k", "val", "pt"]
    assert snap.read_version_as_of(spark, root, v4).count() == 16
    # pre-drop version still reads the column's bytes
    v3_df = snap.read_version_as_of(spark, root, v3)
    assert "score" in v3_df.columns
    assert v3_df.filter(F.col("score").isNotNull()).count() == 4
    # appending the dropped column now requires re-declaring it
    import pytest as _pt
    with _pt.raises(ValueError, match="undeclared"):
        snap.append(
            spark, root,
            spark.range(2).select(
                F.col("id").alias("k"), F.lit("x").alias("val"),
                F.lit(0).cast("bigint").alias("pt"),
                F.lit(5).cast("bigint").alias("score"),
            ),
        )
    # re-adding makes old bytes readable again? No: the add declares a
    # FRESH column; old generations' bytes resurface by design of the
    # name-based mapping — pin that documented behavior
    snap.alter_add_column(root, "score", "bigint")
    got = snap.read_version_as_of(
        spark, root, snap.current_version(root)
    )
    assert got.filter(F.col("score").isNotNull()).count() == 4

    # structural protection
    for col in ("pt", "k", "val"):
        with pytest.raises(ValueError, match="structural"):
            snap.alter_drop_column(root, col)
    with pytest.raises(ValueError, match="not declared"):
        snap.alter_drop_column(root, "ghost")


def test_per_file_version_audits_match_per_version_reads(spark, tmp_path):
    """The single-scan audit (queries/pipeline.py::
    _per_file_version_audits) must equal the audit computed by reading
    every version separately — across carried-over files, a COW merge,
    an alter-added column (NULL-backfilled for old generations), and a
    rollback that re-references v1's generation."""
    from fluvio_duck_spark.functions.checksum import fold_sum, row_checksum
    from fluvio_duck_spark.operators import snapshots as snap
    from fluvio_duck_spark.queries.pipeline import _per_file_version_audits

    root = str(tmp_path / "tbl")
    _mk_table(spark, root, n=30, parts=3)                        # v1
    snap.alter_add_column(root, "score", "bigint")               # v2
    appended = spark.range(30, 40).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
        F.pmod(F.col("id"), F.lit(3)).alias("pt"),
        (F.col("id") * 10).alias("score"),
    )
    snap.append(spark, root, appended)                           # v3
    feed = spark.range(0, 30, 3).select(
        F.col("id").alias("k"), F.lit("U").alias("_op"),
        (F.col("id") + 500).alias("ns"),
        F.pmod(F.col("id"), F.lit(3)).alias("pt"),
    ).where(F.col("pt") == 1)
    snap.merge_into(spark, root, feed, key="k",                  # v4
                    set_cols={"score": "ns"})
    snap.rollback(root, 1)                                       # v5

    versions = [1, 2, 3, 4, 5]
    cols = ["k", "val", "pt"]
    got = {
        r["version"]: (r["n_rows"], r["checksum"],
                       r["score_rows"], r["score_sum"])
        for r in _per_file_version_audits(
            spark, root, versions, cols,
            file_aggs={
                "score_rows": F.count("score").cast("long"),
                "score_sum": F.coalesce(F.sum("score"), F.lit(0))
                .cast("long"),
            },
        ).collect()
    }
    for v in versions:
        df = snap.read_version_as_of(spark, root, v)
        has_score = "score" in df.columns
        exp = df.agg(
            F.count("*").cast("long"),
            fold_sum(row_checksum(cols)),
            (F.count("score") if has_score else F.lit(0)).cast("long"),
            (F.coalesce(F.sum("score"), F.lit(0)) if has_score
             else F.lit(0)).cast("long"),
        ).collect()[0]
        assert got[v] == tuple(exp), f"version {v}: {got[v]} != {tuple(exp)}"
