"""End-to-end tests of the fluvio_consume pipeline over the sf0.001 fixture
(FIXTURES.md §1) — offset algebra, row budget, typed JSON mapping, NULL
semantics (SURVEY §1.4 divergences), metadata scans, transforms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluvio_duck_spark.options import ConsumeOptError
from fluvio_duck_spark.sources.consume import fluvio_consume, read_events
from fluvio_duck_spark.sources.metadata import fluvio_partitions, fluvio_topics


@pytest.fixture(scope="module")
def n_events(spark, sf_dir):
    return read_events(spark, sf_dir).count()


def test_default_schema_names_and_types(spark, sf_dir):
    df = fluvio_consume(spark, "events -A -B --rows 10", sf_dir=sf_dir)
    assert df.columns == ["offset", "timestamp", "value"]
    types = dict(df.dtypes)
    assert types["offset"] == "bigint"  # widened, SURVEY §1.4.1
    assert types["timestamp"].startswith("timestamp")
    assert types["value"] == "string"


def test_tail(spark, sf_dir, n_events):
    df = fluvio_consume(spark, "events -A -T 25", sf_dir=sf_dir)
    offsets = sorted(r.offset for r in df.select("offset").collect())
    assert offsets == list(range(n_events - 25, n_events))


def test_head_skips_n(spark, sf_dir):
    df = fluvio_consume(spark, "events -A -H 10 --rows 5", sf_dir=sf_dir)
    offsets = sorted(r.offset for r in df.select("offset").collect())
    assert offsets == [10, 11, 12, 13, 14]


def test_start_end_inclusive(spark, sf_dir):
    df = fluvio_consume(spark, "events -A --start 100 --end 104 --rows 99", sf_dir=sf_dir)
    offsets = sorted(r.offset for r in df.select("offset").collect())
    assert offsets == [100, 101, 102, 103, 104]  # --end enforced (§1.4.4 fix)


def test_rows_budget_takes_lowest_offsets(spark, sf_dir):
    df = fluvio_consume(spark, "events -A -B --rows 7", sf_dir=sf_dir)
    offsets = sorted(r.offset for r in df.select("offset").collect())
    assert offsets == [0, 1, 2, 3, 4, 5, 6]


def test_default_position_is_end_empty(spark, sf_dir):
    assert fluvio_consume(spark, "events -A", sf_dir=sf_dir).count() == 0


def test_crossing_offsets_raises(spark, sf_dir):
    with pytest.raises(ConsumeOptError):
        fluvio_consume(spark, "events -A --start 9 --end 3", sf_dir=sf_dir)


def test_partition_filter(spark, sf_dir):
    df = fluvio_consume(spark, "events -p 2 -B --rows 100000", sf_dir=sf_dir)
    src = read_events(spark, sf_dir)
    expected = src.filter(F.col("user_id") % 4 == 2).count()
    assert df.count() == expected


def test_topic_filter(spark, sf_dir):
    df = fluvio_consume(spark, "click -A -B --rows 100000", sf_dir=sf_dir)
    src = read_events(spark, sf_dir)
    assert df.count() == src.filter(F.col("event_type") == "click").count()


def test_mapped_columns_types(spark, sf_dir):
    df = fluvio_consume(
        spark, "events -A -B --rows 5 -c k:i=k -c kd:d=k -c ks=k -c kf:f=k -c kl:l=k",
        sf_dir=sf_dir,
    )
    schema = {f.name: f.dataType for f in df.schema.fields}
    assert schema == {
        "k": T.IntegerType(),
        "kd": T.DoubleType(),
        "ks": T.StringType(),
        "kf": T.FloatType(),
        "kl": T.LongType(),
    }
    row = df.first()
    assert row.k == int(row.ks) == int(row.kd) == int(row.kf) == row.kl


def test_missing_json_path_yields_null(spark, sf_dir):
    # divergence §1.4.3: reference writes 0 / "null" / error text; we emit NULL
    df = fluvio_consume(spark, "events -A -B --rows 5 -c gone:i=no.such.path", sf_dir=sf_dir)
    assert all(r.gone is None for r in df.collect())


def test_rfc3339_timestamp_mapping(spark):
    # synthesize a record log with an RFC-3339 payload field (transit `tst`)
    rows = [
        (0, None, 0, '{"tst":"2022-11-15T09:41:59.564Z","spd":3.2}'),
        (1, None, 0, '{"tst":"not-a-time","spd":1.0}'),
    ]
    src = spark.createDataFrame(
        rows, "offset long, timestamp timestamp, partition int, value string"
    )
    df = fluvio_consume(spark, "t -A -B --rows 10 -c time:t=tst -c spd:d=spd", source=src)
    got = sorted(df.collect(), key=lambda r: r.spd, reverse=True)
    assert got[0].time is not None and got[0].time.year == 2022
    assert got[1].time is None  # parse failure → NULL (§1.4.6)


#: Payloads on which the one-parse and per-path forms must agree.
_AGREEING_PAYLOADS = [
    '{"a": {"b": {"x": [1, {"y": "z"}]}, "c": [1, 2]}, "e": {"f": 1}}',
    '{"a": {"b": 1E3, "c": 60.1710}, "e": -0.0}',
    '{"a": {"b": 007, "c": 2}, "e": 1}',
    '{"a": {"b": 12345678901234567890, "c": 1.5e-7}, "e": -12.0}',
    '{"a": {"b": "\\u00e9\\u4e2d\\n\\"q\\"", "c": true}, "e": false}',
    '{"a": {"b": null, "c": null}, "e": null}',
    '{"a": {"c": "2"}}',
    '{"a": 5, "e": "x"}',
    '{"a": "str", "e": "x"}',
    '{"a": [{"b": 1}], "e": "x"}',
    '[{"a": {"b": 1}, "e": 2}]',
    '{"a": {"b": 1, "c": 2}, "e":',
    '{"a": {"b": 1',
    "not json",
    "",
    None,
    '  {"a" : {"b" : " sp ", "c" : {}} , "e" : [ ] }  ',
    '{"A": {"b": 1}, "e": "2"}',
]
#: Duplicate keys: the one-parse form keeps the last value.
_DUPLICATE_KEYS = '{"e": "1", "e": "2", "a": {"b": 1, "b": 3}}'
#: Non-numeric number tokens: the per-path form NULLs every path; the
#: one-parse form can keep the fields parsed before the token.
_NON_NUMERIC = [
    '{"e": 1, "a": {"b": 2, "c": Infinity}}',
    '{"e": 1, "n": NaN, "a": {"b": 2, "c": 3}}',
]

#: (name[:code], path) mappings over the battery: nested and top-level
#: paths, a `$.` prefix, one path read twice under two types.
_BATTERY_MAPPINGS = [
    ("ab", "a.b"), ("abd:d", "$.a.b"), ("ac:l", "a.c"), ("e", "e"),
    ("ei:i", "e"),
]

#: A jolt spec in three parts: a renamed nested shift, an identity
#: top-level shift and a default.
_BATTERY_JOLT = [
    {"operation": "shift",
     "spec": {"a": {"b": "ab", "c": "ac"}, "e": "e"}},
    {"operation": "shift", "spec": {"ab": "ab", "ac": "ac", "e": "e"}},
    {"operation": "default", "spec": {"ab": "none", "e": 0, "g": {"h": 1}}},
]


def _jolt_reference(value):
    """The per-path jolt form: get_json_object per leaf, then to_json."""
    import json

    renamed = [("a.b", "ab"), ("a.c", "ac"), ("e", "e")]
    value = F.to_json(F.struct(*[
        F.get_json_object(value, "$." + p).alias(o) for p, o in renamed
    ]))
    value = F.to_json(F.struct(*[
        F.get_json_object(value, "$." + k).alias(k) for k in ("ab", "ac", "e")
    ]))
    defaults = _BATTERY_JOLT[2]["spec"]
    return F.to_json(F.struct(*[
        F.coalesce(F.get_json_object(value, "$." + k), F.lit(json.dumps(d))).alias(k)
        for k, d in defaults.items()
    ]))


def test_single_parse_extraction_matches_get_json_object(spark):
    """``mappings.project`` (one ``from_json`` per payload) against the
    per-path ``get_json_object`` + ``try_cast`` form, row by row over an
    adversarial payload battery; the two documented differences are
    asserted explicitly.  The battery also runs through a three-part
    jolt spec against an inline get_json_object + to_json reference."""
    from fluvio_duck_spark.mappings import mapped_column, project
    from fluvio_duck_spark.plans import json_parses
    from fluvio_duck_spark.transforms import jolt_transform

    payloads = _AGREEING_PAYLOADS + [_DUPLICATE_KEYS] + _NON_NUMERIC
    # one local partition: both frames collect in payload order
    src = spark.createDataFrame([(v,) for v in payloads], "value string").coalesce(1)

    one_parse = project(src, _BATTERY_MAPPINGS)
    assert json_parses(one_parse) == {"from_json": 1, "get_json_object": 0}
    per_path = src.select(*[
        mapped_column(F.col("value"), spec, path) for spec, path in _BATTERY_MAPPINGS
    ])
    got = [tuple(r) for r in one_parse.collect()]
    want = [tuple(r) for r in per_path.collect()]
    assert len(got) == len(want) == len(payloads)
    n = len(_AGREEING_PAYLOADS)
    for payload, g, w in zip(payloads[:n], got, want):
        assert g == w, payload
    # sanity: the battery exercises values, not only NULLs
    assert got[1] == ("1000.0", 1000.0, None, "-0.0", None)
    assert got[3][0] == "12345678901234567890" and got[0][0] == '{"x":[1,{"y":"z"}]}'

    # duplicate keys: last value wins (serde_json::Value, json.loads);
    # get_json_object keeps the first
    assert got[n] == ("3", 3.0, None, "2", 2)
    assert want[n] == ("1", 1.0, None, "1", 1)
    # NaN / Infinity: never a value.  get_json_object NULLs every path;
    # from_json's partial results keep `e`, parsed before the token in
    # the selected `a`, and NULL the record when the token's field is
    # not selected
    assert want[n + 1:] == [(None,) * 5] * 2
    assert got[n + 1:] == [(None, None, None, "1", 1), (None,) * 5]

    # a leaf that is also a branch, and sibling keys differing only in
    # case (ambiguous to the case-insensitive analyzer), stay per path
    for pair in ([("x", "a"), ("y", "a.b")], [("x", "a.b"), ("y", "A.b")]):
        df = project(src, pair)
        assert json_parses(df) == {"from_json": 0, "get_json_object": 2}
        assert df.collect() == src.select(*[
            mapped_column(F.col("value"), spec, path) for spec, path in pair
        ]).collect()

    jolted = jolt_transform(src, {"spec": _BATTERY_JOLT})
    assert json_parses(jolted) == {"from_json": 3, "get_json_object": 0}
    got = [r.value for r in jolted.collect()]
    want = [r.value for r in src.select(_jolt_reference(F.col("value")).alias("value")).collect()]
    for payload, g, w in zip(payloads[:n], got, want):
        assert g == w, payload
    assert got[4] == '{"ab":"é中\\n\\"q\\"","e":"false","g":"{\\"h\\": 1}"}'
    assert got[n] == '{"ab":"3","e":"2","g":"{\\"h\\": 1}"}'


def test_fluvio_topics_schema(spark, sf_dir):
    df = fluvio_topics(spark, sf_dir)
    assert df.columns == ["name", "partitions"]
    rows = {r.name: r.partitions for r in df.collect()}
    assert set(rows) == {"click", "view", "purchase", "error", "signup"}
    assert all(1 <= v <= 4 for v in rows.values())


def test_fluvio_partitions_leo(spark, sf_dir, n_events):
    df = fluvio_partitions(spark, sf_dir)
    assert df.columns == ["topic", "partition", "LEO"]
    assert df.agg(F.max("LEO")).first()[0] == n_events


def test_transforms_file_yaml(spark, sf_dir, tmp_path):
    yaml_file = tmp_path / "shift.yaml"
    yaml_file.write_text(
        "transforms:\n"
        "  - uses: infinyon/jolt@0.1.0\n"
        "    with:\n"
        "      spec:\n"
        "        - operation: shift\n"
        "          spec:\n"
        '            k: "kk"\n'
    )
    df = fluvio_consume(
        spark, f"events -A -B --rows 5 --transforms-file {yaml_file} -c kk:i=kk",
        sf_dir=sf_dir,
    )
    assert all(r.kk is not None for r in df.collect())


def test_transform_jolt_full_transit_schema(spark, sf_dir):
    """The reference's full transit workload (examples/README.md:34-44):
    --transforms-file=examples/jolt.yaml + the 20-column mapping command.
    Asserts the exact output schema (names, order, types per SURVEY §1.3
    type codes) and that the six jolt-shifted fields carry data while the
    14 unshifted mappings are typed NULLs."""
    from fluvio_duck_spark.queries.consume_queries import _transform_jolt_full

    df = _transform_jolt_full(spark, sf_dir)
    expected = [
        ("lat", "double"), ("long", "double"), ("vehicle", "int"),
        ("route", "string"), ("speed", "double"), ("time", "timestamp"),
        ("acc", "double"), ("line", "int"), ("stop", "int"),
        ("desi", "string"), ("operator", "int"), ("dl", "int"),
        ("odo", "int"), ("drst", "int"), ("occu", "int"), ("hdg", "int"),
        ("dir", "string"), ("tsi", "int"), ("jrn", "int"),
        ("start", "string"),
    ]
    assert df.dtypes == expected
    row = df.orderBy("time").first()
    assert row.lat is not None and 60.0 <= row.lat < 60.1
    assert row.route.startswith("route_")
    assert row.time is not None
    assert row.acc is None and row.line is None and row.start is None


def test_smartmodule_filter(spark, sf_dir):
    df = fluvio_consume(
        spark,
        "events -A -B --rows 100000 --smartmodule sql-filter "
        "-e \"where=cast(get_json_object(value, '$.k') as int) < 10\"",
        sf_dir=sf_dir,
    )
    import json

    ks = [json.loads(r.value)["k"] for r in df.collect()]
    assert ks and all(k < 10 for k in ks)


def test_help_surfaces_from_consume(spark, sf_dir):
    with pytest.raises(ConsumeOptError) as exc:
        fluvio_consume(spark, "--help", sf_dir=sf_dir)
    assert "usage" in str(exc.value).lower()


def test_sql_table_functions_match_builders(spark, sf_dir):
    """SURVEY §2.12: the metadata scans registered as real Spark SQL
    table functions (Python UDTFs) — SELECT * FROM fluvio_topics(...)
    returns exactly what the DataFrame builder returns."""
    from fluvio_duck_spark.sources.metadata import fluvio_partitions, fluvio_topics
    from fluvio_duck_spark.sources.udtf import register_sql_table_functions

    register_sql_table_functions(spark)

    got_t = spark.sql(f"SELECT * FROM fluvio_topics('{sf_dir}')")
    assert [f.name for f in got_t.schema.fields] == ["name", "partitions"]
    assert {tuple(r) for r in got_t.collect()} == {
        tuple(r) for r in fluvio_topics(spark, sf_dir).collect()
    }

    got_p = spark.sql(f"SELECT * FROM fluvio_partitions('{sf_dir}')")
    assert [f.name for f in got_p.schema.fields] == ["topic", "partition", "LEO"]
    assert {tuple(r) for r in got_p.collect()} == {
        tuple(r) for r in fluvio_partitions(spark, sf_dir).collect()
    }

    # the README sum(LEO) demo, now in pure SQL (reference README.md:73-83)
    s = spark.sql(
        f"SELECT sum(LEO) AS sum_leo FROM fluvio_partitions('{sf_dir}')"
    ).collect()[0].sum_leo
    assert s == sum(r.LEO for r in fluvio_partitions(spark, sf_dir).collect())


def test_consume_sql_inline_table_function(spark, sf_dir):
    """consume_sql: the reference's literal SQL surface —
    fluvio_consume('<opts>') inline in a statement, rewritten to a
    parameterized plan reference (reference README.md:97-184)."""
    from fluvio_duck_spark.sources.sql import consume_sql

    row = consume_sql(
        spark,
        "SELECT count(*) AS n, min(offset) AS lo, max(offset) AS hi "
        "FROM fluvio_consume('events -A -B --rows 500')",
        sf_dir=sf_dir,
    ).collect()[0]
    assert (row.n, row.lo, row.hi) == (500, 0, 499)


def test_consume_sql_joins_metadata_functions(spark, sf_dir):
    from fluvio_duck_spark.sources.sql import consume_sql
    from fluvio_duck_spark.sources.metadata import fluvio_partitions

    got = consume_sql(
        spark,
        "SELECT sum(p.LEO) AS s FROM fluvio_topics() t "
        "JOIN fluvio_partitions() p ON t.name = p.topic",
        sf_dir=sf_dir,
    ).collect()[0].s
    assert got == sum(r.LEO for r in fluvio_partitions(spark, sf_dir).collect())


def test_consume_sql_plain_statement_passthrough(spark, sf_dir):
    from fluvio_duck_spark.sources.sql import consume_sql

    assert consume_sql(spark, "SELECT 1 + 1 AS two").collect()[0].two == 2


def test_tail_beyond_log_clamps_to_beginning(spark, sf_dir, n_events):
    """-T larger than the log = read from the beginning (Fluvio
    Offset::from_end clamps); the --rows budget then applies from there."""
    df = fluvio_consume(spark, "events -A -T 99999999 --rows 1000000", sf_dir=sf_dir)
    assert df.count() == n_events
    df2 = fluvio_consume(spark, "events -A -T 99999999 --rows 10", sf_dir=sf_dir)
    offsets = sorted(r.offset for r in df2.select("offset").collect())
    assert offsets == list(range(10))


def test_datasource_matches_fluvio_consume(spark, sf_dir):
    """spark.read.format('fluvio') must return byte-identical offset
    sets to fluvio_consume for the same option string, across the
    offset-algebra surface — including the planner-resolved sparse
    cases: sub-topic + -A + --rows (the global budget becomes an offset
    bound at plan time) and tail anchors against the SELECTION's
    log-end (sub-topics and pinned partitions own sparse offsets, so
    their -T must not anchor on the global LEO)."""
    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.datasource import register_fluvio_source

    register_fluvio_source(spark)

    def via_ds(topic, args):
        return (
            spark.read.format("fluvio").option("topic", topic)
            .option("args", args).option("sf_dir", sf_dir).load()
        )

    cases = [
        ("events", "-A -B --rows 500"),
        ("events", "-A -T 7"),
        ("events", "-B --rows 100"),
        ("events", "-A --start 17 --end 40"),
        ("events", "-p 2 -B --rows 50"),
        # pinned-partition tail: anchored on partition 2's own LEO
        ("events", "-p 2 -T 9"),
        # single-partition sub-topic budget is a LOCAL top-n — exact
        ("click", "-B --rows 5"),
        # sub-topic tails: anchored on the sub-topic's LEO
        ("click", "-A -T 11"),
        ("click", "-p 1 -T 6"),
        # VERDICT r3 gap: -A + sparse sub-topic + --rows — the planner
        # resolves the budget to the rows-th matching offset
        ("click", "-A -B --rows 5"),
        ("click", "-A -B --rows 37"),
        ("click", "-A -H 50 --rows 20 --end 400"),
        ("click", "-A -T 30 --rows 10"),
        # budget larger than the selection: keep everything
        ("click", "-A -B --rows 10000000"),
    ]
    for topic, args in cases:
        a = sorted(r.offset for r in fluvio_consume(
            spark, f"{topic} {args}", sf_dir=sf_dir).collect())
        b = sorted(r.offset for r in via_ds(topic, args).collect())
        assert a == b, (topic, args)
    # default (no -A): reference pins partition 0
    assert (
        via_ds("events", "-B").select("partition").distinct().collect()[0][0]
        == 0
    )


def test_datasource_reads_multifile_directory_layout(spark, sf_dir, tmp_path):
    """At scale a topic is never ONE parquet file: the DataSource must
    plan and read a directory of part-files (footer-LEO walks every
    fragment; bulk reads go through pq.read_table).  Regression: the
    single-file-only ParquetFile call crashed on the bench cache's
    8-file layout."""
    import os

    from fluvio_duck_spark.sources.datasource import register_fluvio_source

    multi = str(tmp_path / "multi")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev.repartition(4).write.mode("overwrite").parquet(
        os.path.join(multi, "events.parquet")
    )
    register_fluvio_source(spark)

    def read(sd, args):
        return (
            spark.read.format("fluvio")
            .option("topic", "events")
            .option("args", args)
            .option("sf_dir", sd)
            .load()
        )

    for args in ("-A -B --rows 500", "-A -T 100"):
        single = {tuple(r) for r in read(sf_dir, args).collect()}
        split = {tuple(r) for r in read(multi, args).collect()}
        assert split == single and len(split) > 0


def test_all_partitions_tail_is_global_by_offset(spark, sf_dir, tmp_path):
    """`-A -T n` must return the last n records of the WHOLE log by
    offset (the documented §1.4.2-faithful merged-log tail) — exactly n
    rows spanning multiple Fluvio partitions — NOT n rows per partition
    (4n) and NOT n rows per input file fragment.  Asserted through both
    front ends, and through the DataSource over a multi-file directory
    layout where each InputPartition could be tempted to tail locally."""
    import os

    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.datasource import register_fluvio_source

    register_fluvio_source(spark)
    n = 13
    max_off = fluvio_consume(spark, "events -A -B", sf_dir=sf_dir).agg(
        F.max("offset")
    ).collect()[0][0]
    expected = list(range(max_off - n + 1, max_off + 1))

    builder = fluvio_consume(spark, f"events -A -T {n}", sf_dir=sf_dir)
    assert sorted(r.offset for r in builder.select("offset").collect()) == expected

    multi = str(tmp_path / "multi")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev.repartition(4).write.mode("overwrite").parquet(
        os.path.join(multi, "events.parquet")
    )
    for sd in (sf_dir, multi):
        ds = (
            spark.read.format("fluvio")
            .option("topic", "events")
            .option("args", f"-A -T {n}")
            .option("sf_dir", sd)
            .load()
        )
        rows = ds.select("offset", "partition").collect()
        assert sorted(r.offset for r in rows) == expected
        # the global tail window spans multiple Fluvio partitions — the
        # per-partition form would have returned n rows from EACH
        assert len({r.partition for r in rows}) > 1


def test_smartmodule_filter_map_option_string(spark, sf_dir):
    """The filter-map kind through the ``--smartmodule`` front end:
    rewrite-or-drop in one module (fn(record) -> Option<record>) —
    odd-k records produce a NULL rewrite and must vanish, even-k
    records survive with the rewritten payload."""
    df = fluvio_consume(
        spark,
        "events -A -B --rows 100000 --smartmodule sql-filter-map "
        "-e \"value=case when cast(get_json_object(value, '$.k') as int) % 2 = 0 "
        "then concat('even:', get_json_object(value, '$.k')) end\"",
        sf_dir=sf_dir,
    )
    vals = [r.value for r in df.collect()]
    assert vals and all(v.startswith("even:") for v in vals)
    assert all(int(v[5:]) % 2 == 0 for v in vals)


def test_smartmodule_array_map_option_string(spark, sf_dir):
    """The array-map kind through the transform-chain front end: a map
    link builds '[k, k+1]', sql-array-map fans each record out to one
    record per element, inheriting the parent offset — every surviving
    offset appears exactly twice with the element pair (k, k+1).  The
    row budget counts records EMITTED (post-SmartModule, the
    reference's printed-row semantics), so a 400-row budget over the
    2x fan-out covers exactly the first 200 parents."""
    import collections
    import json as _json

    raw = fluvio_consume(
        spark, "events -A -B --rows 200", sf_dir=sf_dir
    )
    k_by_offset = {
        r.offset: int(_json.loads(r.value)["k"]) for r in raw.collect()
    }
    assert len(k_by_offset) == 200
    df = fluvio_consume(
        spark,
        [
            "events", "-A", "-B", "--rows", "400",
            "--transform",
            '{"uses":"sql-map","with":{"value":'
            '"concat(\'[\', get_json_object(value, \'$.k\'), \',\', '
            'cast(cast(get_json_object(value, \'$.k\') as long) + 1 '
            'as string), \']\')"}}',
            "--transform",
            '{"uses":"sql-array-map","with":{"path":"$"}}',
        ],
        sf_dir=sf_dir,
    )
    got = collections.defaultdict(list)
    for r in df.collect():
        got[r.offset].append(int(r.value))
    assert sum(len(v) for v in got.values()) == 400
    assert set(got) == set(k_by_offset)
    for off, elems in got.items():
        assert sorted(elems) == [k_by_offset[off], k_by_offset[off] + 1]


def test_array_map_budget_bisecting_fanout_group_is_deterministic(spark, sf_dir):
    """A --rows budget that BISECTS one parent's fan-out group must keep
    the parent's elements in ELEMENT order, not an offset-tie coin flip:
    with a 2x fan-out and an odd budget of 401, the 401st record is the
    FIRST element (k) of the 201st parent — never k+1.  The chain carries
    a stable element-sequence tie-breaker to make that ordering a plan
    property rather than an evaluation accident (advice r9)."""
    import json as _json

    raw = fluvio_consume(spark, "events -A -B --rows 201", sf_dir=sf_dir)
    k_by_offset = {
        r.offset: int(_json.loads(r.value)["k"]) for r in raw.collect()
    }
    boundary_off = max(k_by_offset)
    chain_args = [
        "events", "-A", "-B", "--rows", "401",
        "--transform",
        '{"uses":"sql-map","with":{"value":'
        '"concat(\'[\', get_json_object(value, \'$.k\'), \',\', '
        'cast(cast(get_json_object(value, \'$.k\') as long) + 1 '
        'as string), \']\')"}}',
        "--transform",
        '{"uses":"sql-array-map","with":{"path":"$"}}',
    ]
    for _ in range(2):  # re-evaluate the same plan: result must be stable
        df = fluvio_consume(spark, chain_args, sf_dir=sf_dir)
        rows = df.collect()
        assert len(rows) == 401
        bisected = [int(r.value) for r in rows if r.offset == boundary_off]
        assert bisected == [k_by_offset[boundary_off]]


def test_chained_array_maps_keep_total_element_order(spark, sf_dir):
    """Two stacked array-maps (4x fan-out) with a budget that cuts
    mid-group: the element-sequence tie-breaker composes per fan-out
    level, so the survivors of the cut parent are the leading elements
    of the NESTED order [[k,k+1],[k+2,k+3]] flattened — k then k+1,
    never a later leaf."""
    import json as _json

    raw = fluvio_consume(spark, "events -A -B --rows 3", sf_dir=sf_dir)
    k_by_offset = {
        r.offset: int(_json.loads(r.value)["k"]) for r in raw.collect()
    }
    boundary_off = max(k_by_offset)
    k0 = k_by_offset[boundary_off]
    df = fluvio_consume(
        spark,
        [
            "events", "-A", "-B", "--rows", "10",
            "--transform",
            '{"uses":"sql-map","with":{"value":'
            '"concat(\'[[\', get_json_object(value, \'$.k\'), \',\', '
            'cast(cast(get_json_object(value, \'$.k\') as long) + 1 as string), '
            '\'],[\', '
            'cast(cast(get_json_object(value, \'$.k\') as long) + 2 as string), \',\', '
            'cast(cast(get_json_object(value, \'$.k\') as long) + 3 as string), '
            '\']]\')"}}',
            "--transform",
            '{"uses":"sql-array-map","with":{"path":"$"}}',
            "--transform",
            '{"uses":"sql-array-map","with":{"path":"$"}}',
        ],
        sf_dir=sf_dir,
    )
    rows = df.collect()
    assert len(rows) == 10
    cut = [int(r.value) for r in rows if r.offset == boundary_off]
    assert cut == [k0, k0 + 1]


def test_global_aggregate_fold_warns_without_acknowledgement(spark, sf_dir):
    """The aggregate kind's default global fold serializes the whole log
    through one task (r9 verdict #3): composing it over a frame that
    still carries a partition column must emit a loud UserWarning naming
    both resolutions; -e partitioned=true and -e global=true silence it."""
    import warnings

    base = (
        "events -A -B --rows 50 --smartmodule sum-aggregate "
        "--aggregate-initial 0 -e field=k"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        fluvio_consume(spark, base, sf_dir=sf_dir)
        msgs = [str(w.message) for w in caught if w.category is UserWarning]
    assert any("one task" in m and "partitioned=true" in m for m in msgs)
    for silencer in (" -e partitioned=true", " -e global=true"):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            fluvio_consume(spark, base + silencer, sf_dir=sf_dir)
            assert not [w for w in caught if w.category is UserWarning]


def test_pinned_partition_fold_never_warns(spark, sf_dir):
    """A -p N consume pins ONE partition, so the scale-cliff warning does
    not apply: the chain loader defaults the fold to the partition-keyed
    window there (result-identical on a pinned frame) and no UserWarning
    fires.  The pinned result must equal the explicit-global fold."""
    import warnings

    pinned = (
        "events -p 1 -B --rows 50 --smartmodule sum-aggregate "
        "--aggregate-initial 0 -e field=k"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = fluvio_consume(spark, pinned, sf_dir=sf_dir).collect()
        assert not [w for w in caught if w.category is UserWarning]
    want = fluvio_consume(
        spark, pinned + " -e global=true", sf_dir=sf_dir
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_consume_udtf_parity_with_builder(spark):
    """The polymorphic SQL table function (VERDICT r11 #6) must bind the
    option-string-dependent schema at analyze() time and reproduce the
    builder's rows exactly across the option surface: default columns,
    every start kind, --end, sub-topic, -p, and typed -c mappings."""
    from fluvio_duck_spark.sources.consume import fluvio_consume
    from fluvio_duck_spark.sources.udtf import register_sql_table_functions

    register_sql_table_functions(spark)
    sf = "/root/testdata/sf0.001"
    cases = [
        "events -A -B --rows 100",
        "events -A -T 7",
        "events -A -H 50 --rows 20",
        "events -A --start 5 --end 60",
        "events -A",  # default Offset::end -> empty bounded read
        "click -A -B --rows 100000",
        "purchase -A -T 50 --rows 100000",
        "events -p 2 -B --rows 100000",
        "events -A -B --rows 1000000 -c k:i=k -c ks=k -c kd:d=k "
        "-c kf:f=k -c kl:l=k",
        "events -A -B --rows 50 -c missing:i=no.such.path -c obj=k",
    ]
    for opts in cases:
        want_df = fluvio_consume(spark, opts, sf)
        got_df = spark.sql(
            f"SELECT * FROM fluvio_consume('{opts}', '{sf}')"
        )
        assert got_df.schema == want_df.schema, opts
        want = sorted(map(tuple, want_df.collect()))
        got = sorted(map(tuple, got_df.collect()))
        assert got == want, f"{opts}: {got[:3]} vs {want[:3]}"


def test_consume_udtf_bind_time_errors(spark):
    """Bind-time failures surface as ConsumeOptError: non-literal option
    strings, transform chains (builder-only scope), bad flags."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    from fluvio_duck_spark.sources.udtf import register_sql_table_functions

    register_sql_table_functions(spark)
    for bad in (
        "SELECT * FROM fluvio_consume('events --bogus')",
        "SELECT * FROM fluvio_consume('events -A --transform "
        '{"uses":"infinyon/jolt@0.1.0"}\')',
    ):
        with pytest.raises(AnalysisException):
            spark.sql(bad).collect()


def test_consume_udtf_quirk_values_parity(spark, tmp_path):
    """The UDTF's mapped-column path parses each props document ONCE and
    walks every -c path over the shared parse (r13 optimization) — this
    pins the quirk semantics the shared-parse rewrite must preserve, on
    shapes the sf fixtures never contain: JSON null leaf/doc, bool and
    object/array leaves (re-serialized compact), nested paths, malformed
    documents, and numeric-narrowing casts.  Parity target is the builder
    (JVM get_json_object + try_cast), the oracle-checked semantics."""
    import datetime as dt
    import os

    from fluvio_duck_spark.sources.udtf import register_sql_table_functions

    props = [
        '{"k": 7, "a": {"b": "12.7"}}',      # nested path, truncating cast
        '{"k": null}',                        # JSON null leaf
        'null',                               # whole doc is JSON null
        '{"k": true}',                        # bool leaf -> "true"
        '{"k": {"n": 1}}',                    # object leaf -> compact JSON
        '{"k": [1, 2]}',                      # array leaf -> compact JSON
        'not json at all',                    # malformed -> NULL column
        '{"k": "3.5e300"}',                   # float overflow -> f NULL
        '{"other": 1}',                       # missing key
        '{"k": "-12"}',                       # negative in-range int
        '{"k": "\u0661\u0662"}',              # Arabic-Indic digits -> NULL
        '{"k": "\u00a012"}',                  # NBSP-prefixed -> NULL
        '{"k": "\u2003\u20037"}',             # em-space-prefixed -> NULL
        '{"k": 1e7}',                         # number as string: '1.0E7'
        '{"k": {"n": "\u00e9"}}',             # non-ASCII nested object
        '{"k": "1_0"}',                       # '_' separator -> NULL
    ]
    ts0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, ts0 + dt.timedelta(seconds=i), i, "events", p)
        for i, p in enumerate(props)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "props string",
    )
    sd = str(tmp_path / "quirks")
    df.coalesce(1).write.parquet(os.path.join(sd, "events.parquet"))
    register_sql_table_functions(spark)

    opts = (
        "events -A -B --rows 1000 -c ki:i=k -c ks=k -c kf:f=k -c kd:d=k "
        "-c kl:l=k -c nested:i=a.b"
    )
    want_df = fluvio_consume(spark, opts, sd)
    got_df = spark.sql(f"SELECT * FROM fluvio_consume('{opts}', '{sd}')")
    assert got_df.schema == want_df.schema
    want = sorted(map(tuple, want_df.collect()), key=repr)
    got = sorted(map(tuple, got_df.collect()), key=repr)
    assert got == want, f"{got} vs {want}"
    # the quirk shapes actually exercise the branches: at least one
    # non-NULL bool/object serialization and one all-NULL malformed row
    ks_vals = {r[1] for r in got}
    assert "true" in ks_vals and '{"n":1}' in ks_vals and "[1,2]" in ks_vals


def test_table_schema_cache_detects_in_place_rewrite(spark, tmp_path):
    """VERDICT r13 #3: for a DIRECTORY table, rewriting one file in place
    (same top-level entry set) does not bump the directory mtime, so a
    (path, dir-mtime) cache key would pin the stale schema for the rest
    of the session.  The key must track (count, max mtime) over every
    descendant file, nested partition leaves included."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluvio_duck_spark.sources.tables import table_schema

    tbl_dir = tmp_path / "t.parquet"
    tbl_dir.mkdir()
    f = str(tbl_dir / "part-000.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), f)
    old = table_schema(spark, str(tbl_dir))
    assert [fld.name for fld in old.fields] == ["a"]

    dir_mtime = os.path.getmtime(tbl_dir)
    # in-place rewrite: same file name, wider schema
    pq.write_table(
        pa.table(
            {
                "a": pa.array([1, 2], pa.int64()),
                "b": pa.array(["x", "y"], pa.string()),
            }
        ),
        f,
    )
    # force the stale scenario deterministically: child mtime moves
    # forward, directory mtime pinned to its pre-rewrite value
    os.utime(f, (dir_mtime + 2, dir_mtime + 2))
    os.utime(tbl_dir, (dir_mtime, dir_mtime))

    new = table_schema(spark, str(tbl_dir))
    assert [fld.name for fld in new.fields] == ["a", "b"]

    # the same in-place rewrite one directory level down (a partitioned
    # table): neither the table dir nor its top-level child moves
    nested_dir = tmp_path / "n.parquet"
    leaf = nested_dir / "pt=0"
    leaf.mkdir(parents=True)
    g = str(leaf / "part-000.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), g)
    old = table_schema(spark, str(nested_dir))
    assert [fld.name for fld in old.fields] == ["a", "pt"]
    dir_mtimes = {d: os.path.getmtime(d) for d in (nested_dir, leaf)}
    pq.write_table(
        pa.table(
            {
                "a": pa.array([1, 2], pa.int64()),
                "c": pa.array([1.5, 2.5], pa.float64()),
            }
        ),
        g,
    )
    os.utime(g, (dir_mtimes[leaf] + 2, dir_mtimes[leaf] + 2))
    for d, t in dir_mtimes.items():
        os.utime(d, (t, t))
    new = table_schema(spark, str(nested_dir))
    assert [fld.name for fld in new.fields] == ["a", "c", "pt"]
