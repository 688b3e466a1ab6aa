"""Property-based tests (hypothesis) for the pure-Python surfaces: the
option parser round-trips and the offset algebra's invariants.  These are
driver-side only — no SparkSession — so they run in milliseconds and can
explore thousands of cases."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fluvio_duck_spark.options import (
    ConsumeOptError,
    parse_consume_opts,
)

TOPIC = st.sampled_from(["events", "clicks", "transit-topic"])
NONNEG = st.integers(min_value=0, max_value=2**40)


@given(topic=TOPIC, n=NONNEG)
def test_head_parses_to_absolute_start(topic, n):
    opts = parse_consume_opts(f"{topic} -H {n}")
    start = opts.calculate_start()
    assert (start.kind, start.n) == ("head", n)


@given(topic=TOPIC, n=st.integers(min_value=1, max_value=2**40))
def test_tail_round_trip(topic, n):
    opts = parse_consume_opts([topic, "-T", str(n)])
    start = opts.calculate_start()
    assert (start.kind, start.n) == ("tail", n)


@given(topic=TOPIC, s=NONNEG, e=NONNEG)
def test_start_end_crossing_always_rejected(topic, s, e):
    """--end < --start must raise, any other combination must parse."""
    argv = [topic, "--start", str(s), "--end", str(e)]
    if e < s:
        with pytest.raises(ConsumeOptError):
            parse_consume_opts(argv)
    else:
        opts = parse_consume_opts(argv)
        assert opts.calculate_start().n == s
        assert opts.end == e


@given(
    topic=TOPIC,
    flags=st.lists(
        st.sampled_from(["-B", "-H 5", "-T 5", "--start 5"]),
        min_size=2,
        max_size=4,
        unique=True,
    ),
)
def test_position_flags_pairwise_exclusive(topic, flags):
    with pytest.raises(ConsumeOptError):
        parse_consume_opts(f"{topic} {' '.join(flags)}")


_IDENT = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,10}", fullmatch=True)


@given(
    name=_IDENT,
    code=st.sampled_from(["i", "l", "f", "d", "s", "t"]),
    path=st.lists(_IDENT, min_size=1, max_size=3).map(".".join),
)
def test_column_mapping_round_trip(name, code, path):
    from fluvio_duck_spark.mappings import TYPE_CODES, parse_column_spec

    opts = parse_consume_opts(["events", "-c", f"{name}:{code}={path}"])
    ((spec, got_path),) = opts.columns
    assert got_path == path
    got_name, got_type = parse_column_spec(spec)
    assert got_name == name
    assert got_type == TYPE_CODES[code]


@given(name=_IDENT, path=_IDENT)
def test_column_mapping_unknown_code_is_varchar(name, path):
    """Reference parity: any unknown type code falls back to VARCHAR
    (reference src/consume.rs:235-240)."""
    from pyspark.sql import types as T

    from fluvio_duck_spark.mappings import parse_column_spec

    opts = parse_consume_opts(["events", "-c", f"{name}:zz={path}"])
    ((spec, _),) = opts.columns
    assert parse_column_spec(spec)[1] == T.StringType()


@given(rows=NONNEG)
def test_rows_budget_preserved(rows):
    assert parse_consume_opts(["events", "--rows", str(rows)]).rows == rows


@given(data=st.data())
def test_parse_never_crashes_on_flag_soup(data):
    """Fuzzing the parser with arbitrary flag combinations must either
    parse or raise ConsumeOptError — never any other exception type."""
    parts = data.draw(
        st.lists(
            st.sampled_from(
                ["events", "-B", "-H", "-T", "--start", "--end", "--rows",
                 "-c", "k:i=k", "7", "-p", "-A", "-d", "--maxbytes", "100",
                 "--isolation", "read_committed", "--smartmodule", "jolt",
                 "-e", "a=b", "--bogus"]
            ),
            min_size=1,
            max_size=8,
        )
    )
    try:
        parse_consume_opts(parts)
    except ConsumeOptError:
        pass


@settings(max_examples=300, deadline=None)
@given(data=st.data(), n_dims=st.integers(min_value=2, max_value=7))
def test_morton_chain_equals_per_bit_interleave(data, n_dims):
    """The derived shift/mask spread chain (morton_geometry) must equal
    the per-bit interleave definition for EVERY stride and any in-range
    bucket values, and the key must stay positive in a signed int64 —
    the invariants the N-dim zorder_key/zorder_sql pair rests on."""
    from fluvio_duck_spark.operators.layout import morton_geometry

    bits, steps = morton_geometry(n_dims)
    vals = [
        data.draw(st.integers(min_value=0, max_value=(1 << bits) - 1))
        for _ in range(n_dims)
    ]

    def spread(v: int) -> int:
        for shift, mask in steps:
            v = (v | (v << shift)) & mask
        return v

    chain = 0
    for j, v in enumerate(vals):
        chain |= spread(v) << j
    ref = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            ref |= ((v >> i) & 1) << (i * n_dims + j)
    assert chain == ref
    assert 0 <= chain < 2**63
    # round trip: every dimension recovers from the key
    for j, v in enumerate(vals):
        back = 0
        for i in range(bits):
            back |= ((chain >> (i * n_dims + j)) & 1) << i
        assert back == v


@settings(max_examples=30, deadline=None)
@given(
    toks=st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=30),
    k=st.integers(min_value=2, max_value=6),
    w=st.integers(min_value=2, max_value=5),
)
def test_winnow_selection_is_subset_of_gram_hashes(toks, k, w):
    """Pure-python re-implementation check of the winnowing invariant:
    every selected fingerprint is the min of some w-window, and the
    number of selected fingerprints is <= number of windows."""
    import hashlib

    text = " ".join(toks)
    grams = [
        hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for i in range(len(toks) - k + 1)
    ] if len(toks) >= k else []
    if not grams:
        expected: set[str] = set()
    elif len(grams) < w:
        expected = {min(grams)}
    else:
        expected = {min(grams[i : i + w]) for i in range(len(grams) - w + 1)}

    # compare against the Spark expression evaluated locally via pyspark's
    # expression-on-literal path (needs a session; reuse the shared one)
    from fluvio_duck_spark.functions.text import winnow_fingerprints
    from fluvio_duck_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("props", master="local[2]", shuffle_partitions=2)
    row = (
        spark.range(1)
        .select(winnow_fingerprints(F.lit(text), k=k, w=w).alias("fps"))
        .collect()[0]
    )
    assert set(row.fps) == expected


# --- model-based: the full consume pipeline vs a pure-Python model ----------

@pytest.fixture(scope="module")
def tiny_log(request):
    """A 40-record single-topic log as a cached DataFrame shaped like
    record_log's output (offset, timestamp, partition, value)."""
    spark = request.getfixturevalue("spark")
    from pyspark.sql import functions as F

    df = (
        spark.range(40)
        .select(
            F.col("id").alias("offset"),
            F.timestamp_seconds(1_700_000_000 + F.col("id")).alias("timestamp"),
            (F.col("id") % 4).cast("int").alias("partition"),
            F.format_string('{"k": %d}', F.col("id")).alias("value"),
        )
        .cache()
    )
    df.count()
    return df


@settings(max_examples=20, deadline=None)
@given(
    pos=st.sampled_from(["-B", "-H", "-T", "--start", "none"]),
    n=st.integers(min_value=0, max_value=60),
    end=st.one_of(st.none(), st.integers(min_value=0, max_value=60)),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=60)),
    keep_all=st.booleans(),
)
def test_consume_offsets_match_python_model(
    spark, tiny_log, pos, n, end, rows, keep_all
):
    """Whatever combination of position/end/rows flags, the returned
    offset set must equal the pure-Python reference model: position
    filter -> inclusive end -> take first `rows` in offset order.
    ``keep_all`` adds a smartmodule that keeps every record: a filter
    can drop rows, so the budget then plans as the ordered limit after
    the chain instead of the offset-range predicate — both plans must
    match the same model."""
    from fluvio_duck_spark.options import ConsumeOptError
    from fluvio_duck_spark.sources.consume import fluvio_consume

    argv = ["events", "-A"]
    if keep_all:
        argv += ["--sm", "sql-filter", "-e", "where=offset >= 0"]
    if pos == "-B":
        argv += ["-B"]
    elif pos in ("-H", "-T", "--start"):
        argv += [pos, str(n)]
    if end is not None:
        argv += ["--end", str(end)]
    if rows is not None:
        argv += ["--rows", str(rows)]

    N = 40
    log = list(range(N))
    if pos == "-B":
        model = log
    elif pos == "-H" or pos == "--start":
        model = [o for o in log if o >= n]
    elif pos == "-T":
        model = [o for o in log if o >= max(N - n, 0)]
    else:  # default Offset::end -> empty in bounded mode
        model = []
    if end is not None:
        model = [o for o in model if o <= end]
    if rows is not None:
        model = model[:rows]

    crossing = pos == "--start" and end is not None and end < n
    if crossing:
        with pytest.raises(ConsumeOptError):
            fluvio_consume(spark, argv, source=tiny_log)
        return
    got = sorted(
        r.offset
        for r in fluvio_consume(spark, argv, source=tiny_log)
        .select("offset").collect()
    )
    assert got == model, (argv, got[:5], model[:5])


@settings(max_examples=15, deadline=None)
@given(
    part=st.integers(min_value=0, max_value=3),
    pos=st.sampled_from(["-B", "-H", "-T"]),
    n=st.integers(min_value=0, max_value=50),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=20)),
)
def test_consume_partition_select_matches_model(spark, tiny_log, part, pos, n, rows):
    """-p P narrows the log BEFORE the offset algebra, so -T/-H act on
    the selected partition's own offset span (offset thresholds, not
    record counts — the stand-in's global offsets are sparse within one
    partition, exactly like consume_topic_tail's documented semantics)."""
    from fluvio_duck_spark.sources.consume import fluvio_consume

    argv = ["events", "-p", str(part)]
    argv += ["-B"] if pos == "-B" else [pos, str(n)]
    if rows is not None:
        argv += ["--rows", str(rows)]

    sel = [o for o in range(40) if o % 4 == part]
    if pos == "-B":
        model = sel
    elif pos == "-H":
        model = [o for o in sel if o >= n]
    else:  # -T: offset >= (selected LEO) - n
        model = [o for o in sel if o >= max(sel) + 1 - n]
    if rows is not None:
        model = model[:rows]

    got = sorted(
        r.offset
        for r in fluvio_consume(spark, argv, source=tiny_log)
        .select("offset").collect()
    )
    assert got == model, (argv, got, model)


@pytest.mark.parametrize("n,bins,parts", [(97, 7, 3), (64, 8, 5), (13, 4, 2), (200, 9, 8)])
def test_quantile_bins_property_sizes_and_order(spark, n, bins, parts):
    """For any (n, bins, partitioning): every bin differs by ≤1 row from
    the others, bins are contiguous in the sort order, and the result is
    partitioning-independent (the global rank must not depend on where
    range boundaries land)."""
    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.ranking import quantile_bins

    df = spark.range(0, n).select("id", (F.hash("id") % 1000).alias("v"))
    out = quantile_bins(df, ["v", "id"], n_bins=bins, n_partitions=parts)
    rows = sorted(out.collect(), key=lambda r: (r.v, r.id))
    sizes = {}
    for r in rows:
        sizes[r.bin] = sizes.get(r.bin, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sum(sizes.values()) == n
    # bin labels are monotone along the sorted order
    labels = [r.bin for r in rows]
    assert labels == sorted(labels)
    # partitioning independence
    out2 = quantile_bins(df.repartition(11), ["v", "id"], n_bins=bins,
                         n_partitions=max(1, parts - 1))
    assert {(r.id, r.bin) for r in out2.collect()} == {
        (r.id, r.bin) for r in rows
    }


def test_upsample_repeat_expectation_property(spark):
    """Realized copy counts track the rate in expectation across a rate
    sweep, and every row's count is floor(rate) or ceil(rate)."""
    import math

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.sampling import upsample_repeat

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    for rate in (0.25, 1.0, 1.75, 3.5):
        out = upsample_repeat(df.withColumn("r", F.lit(rate)), "r")
        per = {r.doc_id: r["count"] for r in out.groupBy("doc_id").count().collect()}
        lo, hi = math.floor(rate), math.ceil(rate)
        assert all(c in (lo, hi) or (lo == hi and c == lo) for c in per.values())
        total = sum(per.values())
        assert abs(total - rate * 1000) < 60, (rate, total)


@pytest.mark.parametrize("seed,n,holes", [(1, 24, 10), (7, 48, 30), (13, 12, 4)])
def test_interp_fill_recovers_linear_series(spark, seed, n, holes):
    """interp_fill on a series sampled from an exact line must recover
    the line at every interpolated point (a convex combination of two
    points on a line lies on the line, to FP rounding), and must be
    partitioning-independent."""
    import random

    from pyspark.sql import functions as F

    from fluvio_duck_spark.operators.timeseries import interp_fill

    rng = random.Random(seed)
    a, b = rng.uniform(-5, 5), rng.uniform(-3, 3)
    knocked = set(rng.sample(range(1, n - 1), min(holes, n - 2)))
    rows = [
        (
            "k",
            f"2024-01-01 {h % 24:02d}:00:00",
            h // 24,
            None if h in knocked else a + b * h,
            h,
        )
        for h in range(n)
    ]
    df = spark.createDataFrame(
        rows, "k string, hm string, day int, v double, h int"
    ).select(
        "k", "v", "h",
        (F.col("hm").cast("timestamp") + F.make_interval(days=F.col("day"))).alias("ts"),
    )
    out = interp_fill(df.repartition(5), "k", "ts", "v", tiebreak_col="h")
    got = {r.h: (r.filled, r.filled_src) for r in out.collect()}
    for h in range(n):
        val, src = got[h]
        expect_src = "interp" if h in knocked else "obs"
        assert src == expect_src, (h, src)
        assert abs(val - (a + b * h)) < 1e-9, (h, val, a + b * h)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50),
                  st.one_of(st.none(), st.text("abcxyz|\\", max_size=6))),
        min_size=1, max_size=40,
    ),
    seed=st.integers(0, 10_000),
)
def test_checksum_permutation_invariant_and_injective_ish(spark, rows, seed):
    """Property: the portable table checksum is identical under any row
    permutation/partitioning, and removing one row changes it (the audit
    must catch a lost row) — including rows whose strings contain the
    join delimiter and escape-ish characters."""
    import random

    from fluvio_duck_spark.functions.checksum import table_checksum

    df = spark.createDataFrame(rows, "k long, s string")
    a = table_checksum(df, ["k", "s"], "t").collect()[0]

    shuffled = list(rows)
    random.Random(seed).shuffle(shuffled)
    b = table_checksum(
        spark.createDataFrame(shuffled, "k long, s string").repartition(3),
        ["k", "s"], "t",
    ).collect()[0]
    assert (a.n_rows, a.checksum) == (b.n_rows, b.checksum)

    c = table_checksum(
        spark.createDataFrame(rows[1:], "k long, s string")
        if len(rows) > 1 else spark.createDataFrame([], "k long, s string"),
        ["k", "s"], "t",
    ).collect()[0]
    assert (c.n_rows, c.checksum) != (a.n_rows, a.checksum)


@settings(max_examples=8, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1, max_size=60,
    ),
)
def test_skyline_property_no_dominated_survivor_no_missing_point(spark, pts):
    """Property: every returned point is non-dominated and every
    non-dominated input point is returned (with multiplicity — ties on
    both axes all survive)."""
    from collections import Counter

    from fluvio_duck_spark.operators.skyline import skyline2d

    rows = [(i, float(c), g) for i, (c, g) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, cost double, gain int")
    got = [(r.cost, r.gain) for r in skyline2d(df.repartition(4), "cost", "gain").collect()]

    def dominated(p):
        return any(
            q[1] <= p[0] and q[2] >= p[1] and (q[1] < p[0] or q[2] > p[1])
            for q in rows
        )

    expect = Counter((c, g) for _i, c, g in rows if not dominated((c, g)))
    assert Counter(got) == expect


@pytest.fixture(scope="module")
def tiny_pp_log(request):
    """A 4-partition per-partition-offset log with UNEQUAL lengths
    (partition p holds 10+3p records, each with its own dense 0..len-1
    sequence) — the shape where per-partition and global anchoring
    disagree on almost every input."""
    spark = request.getfixturevalue("spark")
    from pyspark.sql import functions as F

    rows = [
        (o, 1_700_000_000 + 100 * p + o, p, '{"k": %d}' % (10 * p + o))
        for p in range(4)
        for o in range(10 + 3 * p)
    ]
    df = (
        spark.createDataFrame(
            rows, "offset long, ts long, partition int, value string"
        )
        .select(
            "offset",
            F.timestamp_seconds("ts").alias("timestamp"),
            "partition",
            "value",
        )
        .cache()
    )
    df.count()
    return df


@settings(max_examples=20, deadline=None)
@given(
    pos=st.sampled_from(["-B", "-H", "-T", "--start", "none"]),
    n=st.integers(min_value=0, max_value=25),
    end=st.one_of(st.none(), st.integers(min_value=0, max_value=25)),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=25)),
)
def test_pp_consume_matches_python_model(spark, tiny_pp_log, pos, n, end, rows):
    """per_partition_offsets=True vs the pure-Python per-partition model:
    every position/end/rows combination anchors against EACH partition's
    own length (reference src/partition.rs:107-134) — position filter →
    inclusive end → first `rows` of each partition in offset order."""
    from fluvio_duck_spark.options import ConsumeOptError
    from fluvio_duck_spark.sources.consume import fluvio_consume

    argv = ["events", "-A"]
    if pos == "-B":
        argv += ["-B"]
    elif pos in ("-H", "-T", "--start"):
        argv += [pos, str(n)]
    if end is not None:
        argv += ["--end", str(end)]
    if rows is not None:
        argv += ["--rows", str(rows)]

    lens = {p: 10 + 3 * p for p in range(4)}
    model = []
    for p, length in lens.items():
        if pos == "-B":
            seq = list(range(length))
        elif pos in ("-H", "--start"):
            seq = [o for o in range(length) if o >= n]
        elif pos == "-T":
            seq = [o for o in range(length) if o >= max(length - n, 0)]
        else:  # default Offset::end → empty per partition in bounded mode
            seq = []
        if end is not None:
            seq = [o for o in seq if o <= end]
        if rows is not None:
            seq = seq[:rows]
        model.extend((p, o) for o in seq)

    crossing = pos == "--start" and end is not None and end < n
    if crossing:
        with pytest.raises(ConsumeOptError):
            fluvio_consume(
                spark, argv, source=tiny_pp_log, per_partition_offsets=True
            )
        return
    got = sorted(
        (r.partition, r.offset)
        for r in fluvio_consume(
            spark, argv, source=tiny_pp_log, per_partition_offsets=True
        )
        .join(tiny_pp_log.select("offset", "timestamp", "partition"),
              ["offset", "timestamp"])
        .select("partition", "offset")
        .collect()
    )
    assert got == sorted(model), (argv, got[:6], sorted(model)[:6])


@pytest.fixture(scope="module")
def tiny_pp_dir(tmp_path_factory):
    """On-disk per-partition log (partition=<k>/ layout) with lengths
    10/13/16/19, multiple fragments per partition — pure pyarrow, no
    Spark: the DataSource readers are drivable without a session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("tiny_pp_dir")
    for p in range(4):
        d = root / f"partition={p}"
        d.mkdir()
        length = 10 + 3 * p
        cut = length // 2
        for tag, lo, hi in (("a", 0, cut), ("b", cut, length)):
            pq.write_table(
                pa.table({
                    "offset": pa.array(range(lo, hi), pa.int64()),
                    "timestamp": pa.array(
                        [1_700_000_000_000_000 + o for o in range(lo, hi)],
                        pa.timestamp("us"),
                    ),
                    "value": pa.array(['{"k": %d}' % o for o in range(lo, hi)]),
                }),
                str(d / f"part-{tag}.parquet"),
            )
    return str(root)


@settings(max_examples=60, deadline=None)
@given(
    pos=st.sampled_from(["-B", "-H", "-T", "--start", "none"]),
    n=st.integers(min_value=0, max_value=25),
    end=st.one_of(st.none(), st.integers(min_value=0, max_value=25)),
    rows=st.one_of(st.none(), st.integers(min_value=0, max_value=25)),
    pin=st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
    granule=st.sampled_from([1, 3, 7, 1 << 20]),
)
def test_datasource_pp_matches_python_model(
    tiny_pp_dir, pos, n, end, rows, pin, granule
):
    """The log_dir DataSource (plan-time window algebra + granule-sized
    task chunking) vs the pure-Python per-partition model, driven
    WITHOUT Spark: for every position/end/rows/pin/granule combination
    the union of chunk reads equals the model, chunks never overlap,
    and the task split never changes results.  Pins the round-8
    chunking path against the same semantics the builder property test
    pins (reference src/partition.rs:107-134)."""
    from fluvio_duck_spark.options import ConsumeOptError
    from fluvio_duck_spark.sources.datasource import FluvioReader

    argv = ["-A"] if pin is None else ["-p", str(pin)]
    if pos == "-B":
        argv += ["-B"]
    elif pos in ("-H", "-T", "--start"):
        argv += [pos, str(n)]
    if end is not None:
        argv += ["--end", str(end)]
    if rows is not None:
        argv += ["--rows", str(rows)]

    crossing = pos == "--start" and end is not None and end < n
    if crossing:
        with pytest.raises(ConsumeOptError):
            FluvioReader({"log_dir": tiny_pp_dir, "args": " ".join(argv)})
        return

    reader = FluvioReader({
        "log_dir": tiny_pp_dir, "args": " ".join(argv),
        "max_rows_per_task": str(granule),
    })

    lens = {p: 10 + 3 * p for p in range(4)}
    pids = lens if pin is None else ({pin: lens[pin]} if pin in lens else {})
    budget = rows if rows is not None else 1000  # parser default
    model = []
    for p, length in pids.items():
        if pos == "-B":
            seq = list(range(length))
        elif pos in ("-H", "--start"):
            seq = [o for o in range(length) if o >= n]
        elif pos == "-T":
            seq = [o for o in range(length) if o >= max(length - n, 0)]
        else:  # default Offset::end → empty over a static log
            seq = []
        if end is not None:
            seq = [o for o in seq if o <= end]
        seq = seq[:budget]  # pp budget = dense window arithmetic
        model.extend((p, o) for o in seq)

    parts = reader.partitions()
    got = [
        (d["partition"], d["offset"])
        for p in parts
        for b in reader.read(p)
        for d in b.to_pylist()
    ]
    assert len(got) == len(set(got))  # chunks never overlap
    assert sorted(got) == sorted(model), (argv, granule)


@settings(max_examples=60, deadline=None)
@given(
    start=st.dictionaries(
        st.sampled_from(["0", "1", "2", "3"]),
        st.integers(min_value=0, max_value=30),
        min_size=0, max_size=4,
    ),
    advance=st.dictionaries(
        st.sampled_from(["0", "1", "2", "3"]),
        st.integers(min_value=0, max_value=30),
        min_size=4, max_size=4,
    ),
    granule=st.sampled_from([1, 2, 5, 1 << 20]),
)
def test_stream_partitions_tile_any_cursor_range(
    tiny_pp_dir, start, advance, granule
):
    """The full stream reader's micro-batch planner: for ANY committed
    [start, end) cursor pair and any task granule, the planned chunks
    tile each partition's range exactly (no gap, no overlap) and the
    union of executor reads equals the range's records — the replay
    determinism CONNECTOR.md §4 requires, as a property over random
    cursor positions."""
    from fluvio_duck_spark.sources.datasource import FluvioStreamReader

    r = FluvioStreamReader(
        {"log_dir": tiny_pp_dir, "max_rows_per_batch": str(granule)}
    )
    lens = {p: 10 + 3 * p for p in range(4)}
    end = {
        k: min(start.get(k, 0) + advance[k], lens[int(k)])
        for k in ("0", "1", "2", "3")
    }
    # clamp start at end (Spark never plans start > end)
    lo_map = {k: min(start.get(k, 0), end[k]) for k in end}

    parts = r.partitions(lo_map, end)
    got = [
        (d["partition"], d["offset"])
        for p in parts
        for b in r.read(p)
        for d in b.to_pylist()
    ]
    model = [
        (int(k), o)
        for k in end
        for o in range(lo_map[k], end[k])
        if o < lens[int(k)]
    ]
    assert len(got) == len(set(got))  # no chunk overlap
    assert sorted(got) == sorted(model)
    # chunk windows tile [lo, end) exactly per partition
    spans: dict[int, list] = {}
    for p in parts:
        spans.setdefault(p.pid, []).append((p.lo, p.hi))
    for pid, tiles in spans.items():
        tiles.sort()
        k = str(pid)
        assert tiles[0][0] == lo_map[k] and tiles[-1][1] == end[k]
        assert all(b[0] == a[1] for a, b in zip(tiles, tiles[1:]))
