"""Seeded input generator and segment lander.

Records have the shape of the program's ``events.parquet`` table:
dense ``event_id`` offsets, nanosecond ``ts``, ``user_id``,
``event_type``, ``value`` and a ``props`` JSON payload shaped like the
Helsinki MQTT vehicle-position feed the reference's examples use::

    {"k": 17, "payload": {"VP": {"lat": 60.171, "long": 24.941,
     "veh": 412, "route": "r3", "spd": 8.25,
     "tst": "2024-01-01T00:00:11.172425Z"}}}

Everything is built with numpy and pyarrow compute, so a million
records take about a second.  The same seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
N_USERS = 5000
N_ROUTES = 8
N_VEHICLES = 900
#: 2024-01-01T00:00:00Z in nanoseconds
_T0_NS = 1_704_067_200_000_000_000


def _fmt(arr: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(arr), pa.string())


def make_records(rng: np.random.Generator, first_offset: int, n: int,
                 first_ts_ns: int) -> pa.Table:
    """``n`` records with offsets ``first_offset..first_offset+n-1``.

    Timestamps rise by a random 0–2 ms gap per record, starting at
    ``first_ts_ns``; every other field is drawn from ``rng``."""
    offsets = np.arange(first_offset, first_offset + n, dtype=np.int64)
    gaps = rng.integers(0, 2_000_000, n, dtype=np.int64)
    ts = first_ts_ns + np.cumsum(gaps)
    # whole microseconds: the program narrows ns to µs on read, and the
    # payload's tst string carries the same instant
    ts -= ts % 1000
    user = rng.integers(0, N_USERS, n, dtype=np.int64)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.gamma(2.0, 40.0, n), 2)
    k = rng.integers(0, 100, n, dtype=np.int64)
    lat = np.round(60.10 + rng.random(n) * 0.15, 3)
    lon = np.round(24.80 + rng.random(n) * 0.30, 3)
    veh = rng.integers(1, N_VEHICLES + 1, n, dtype=np.int64)
    route = rng.integers(1, N_ROUTES + 1, n, dtype=np.int64)
    spd = np.round(rng.random(n) * 25.0, 2)

    # "2024-01-01 00:00:11.172425" -> RFC 3339 (strftime is 10x slower)
    tst = pc.cast(pa.array(ts // 1000, pa.timestamp("us")), pa.string())
    tst = pc.replace_substring(tst, " ", "T")
    route_s = pc.binary_join_element_wise("r", _fmt(route), "")
    props = pc.binary_join_element_wise(
        '{"k": ', _fmt(k),
        ', "payload": {"VP": {"lat": ', _fmt(lat),
        ', "long": ', _fmt(lon),
        ', "veh": ', _fmt(veh),
        ', "route": "', route_s,
        '", "spd": ', _fmt(spd),
        ', "tst": "', tst, 'Z"}}}',
        "",
    )
    return pa.table({
        "event_id": offsets,
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": user,
        "event_type": pa.array(etype, pa.string()),
        "value": value,
        "props": props,
    })


class LogGenerator:
    """Seeded stream of consecutive record batches: the producer side of
    one topic.  Each call to :meth:`take` continues the offsets and
    timestamps where the previous one stopped."""

    def __init__(self, seed: int, stream: int) -> None:
        self.rng = np.random.default_rng([seed, stream])
        self.next_offset = 0
        self.next_ts_ns = _T0_NS

    def take(self, n: int) -> pa.Table:
        tbl = make_records(self.rng, self.next_offset, n, self.next_ts_ns)
        self.next_offset += n
        self.next_ts_ns = int(tbl.column("ts").cast(pa.int64())[-1].as_py()) + 1000
        return tbl


def write_segment(tbl: pa.Table, path: str) -> int:
    """Write one segment file (a single row group); returns its size in
    bytes."""
    pq.write_table(tbl, path, compression="snappy")
    return os.path.getsize(path)


class SegmentLander:
    """Stages segment files outside the table directory and lands them
    one at a time: each landing is a single ``os.replace`` into the
    table directory, so a reader lists either the whole file or none of
    it.  Names never start with ``.`` or ``_`` (Spark's file sources
    skip those)."""

    def __init__(self, staging_dir: str, table_dir: str) -> None:
        self.staging_dir = staging_dir
        self.table_dir = table_dir
        os.makedirs(staging_dir, exist_ok=True)
        os.makedirs(table_dir, exist_ok=True)
        self.count = 0

    def land(self, tbl: pa.Table) -> int:
        """Stage ``tbl`` as the next segment, then publish it; returns
        the segment's size in bytes."""
        name = f"seg-{self.count:05d}.parquet"
        self.count += 1
        staged = os.path.join(self.staging_dir, name)
        size = write_segment(tbl, staged)
        os.replace(staged, os.path.join(self.table_dir, name))
        return size
