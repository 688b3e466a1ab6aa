"""Loopback record server — the second transport for CONNECTOR.md's
parity gate.

Every query in this repo runs against a parquet stand-in read directly
from the local filesystem.  CONNECTOR.md specifies how a real
cluster-backed connector replaces that transport, but the contract had
only ever been *written*, never executed against a second transport
(VERDICT r7 "Next round" #1).  This module is that second transport: an
in-process socket server that owns the partition logs and speaks a
minimal SPU-shaped protocol, plus the client helpers the DataSource
uses to consume it.  Nothing above the seam changes — the parity
queries run the SAME option strings with ``.option("server", addr)``
swapped in and must produce identical hashes.

The protocol mirrors the two calls the reference makes per scan:

* **metadata** (plan time, driver side): ``{"op": "parts"}`` →
  ``{pid: leo}`` — the admin/offset API analogue
  (``all::<PartitionSpec>()`` + ``partition.status.leader.leo``,
  reference src/partition.rs:107-134).
* **record fetch** (execute time, EXECUTOR side): ``{"op": "fetch",
  "pid": k, "lo": a, "hi": b}`` → an Arrow IPC stream of that
  partition's records with offsets in ``[a, b)`` — the bounded range
  read of ``stream_with_config(start_offset, config)`` (reference
  src/consume.rs:189-193).  The server must be handed the window: a
  connector that fetches all and filters client-side fails
  CONNECTOR.md's step-6 scale posture by construction.

Wire format: one JSON request line, then an 8-byte big-endian length
prefix and the payload (JSON for metadata, Arrow IPC for fetch).  The
server is a stand-in for the SPU — its own storage is the pp log dir
parquet (row-group-pruned via the same ``_read_pp_window`` the local
transport uses); what the parity gate exercises is the READER's shape:
plan-time metadata RPC, executor-side windowed fetch, no driver funnel.
"""

from __future__ import annotations

import io
import json
import re
import socket
import socketserver
import struct
import threading


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("record server closed mid-response")
        buf += chunk
    return buf


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:
        line = self.rfile.readline()
        if not line:
            return
        # any server-side failure (malformed request JSON, bad filter
        # DSL, cast error in produce) must still produce a FRAMED reply:
        # an abruptly-closed connection surfaces client-side as an opaque
        # ConnectionError with the real cause lost in the server log
        # (ADVICE r8).  Errors travel as {"error": ...} JSON; clients
        # check for it before decoding (see _check_error).
        try:
            req = json.loads(line)
            srv = self.server  # type: ignore[assignment]
            if req["op"] == "parts":
                payload = json.dumps(srv.parts_leo()).encode()
            elif req["op"] == "fetch":
                payload = srv.fetch_ipc(
                    int(req["pid"]), int(req["lo"]),
                    None if req.get("hi") is None else int(req["hi"]),
                    req.get("filter"), req.get("chain"),
                )
            elif req["op"] == "produce":
                # read from rfile (buffered): part of the payload may
                # already sit behind the readline()
                want = int(req["payload_bytes"])
                body = b""
                while len(body) < want:
                    chunk = self.rfile.read(want - len(body))
                    if not chunk:
                        raise ConnectionError("producer closed mid-payload")
                    body += chunk
                payload = json.dumps(
                    srv.produce_ipc(int(req["pid"]), body)
                ).encode()
            else:
                raise ValueError(f"unknown op {req['op']!r}")
        except Exception as exc:  # noqa: BLE001 — every error is framed
            payload = json.dumps(
                {"error": f"{type(exc).__name__}: {exc}"}
            ).encode()
        self.wfile.write(struct.pack(">Q", len(payload)))
        self.wfile.write(payload)


class RecordServer(socketserver.ThreadingTCPServer):
    """Serves a per-partition log directory (``partition=<k>/`` layout,
    sources/pplog.py) over the loopback protocol.  Threaded: one
    connection per request, so N executor tasks fetch concurrently —
    the stand-in for N SPU connections."""

    daemon_threads = True
    allow_reuse_address = True

    def __init__(self, log_dir: str):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.log_dir = log_dir
        self._thread: threading.Thread | None = None
        self._append_lock = threading.Lock()  # offset assignment is serial

    @property
    def address(self) -> str:
        host, port = self.server_address
        return f"{host}:{port}"

    def parts_leo(self) -> dict[str, int]:
        from fluvio_duck_spark.sources.pplog import pp_partition_leos

        return {
            str(pid): leo
            for pid, leo in pp_partition_leos(self.log_dir).items()
        }

    def fetch_ipc(self, pid: int, lo: int, hi: int | None,
                  flt: dict | None = None,
                  chain: list[dict] | None = None) -> bytes:
        import os

        import pyarrow as pa

        from fluvio_duck_spark.sources.datasource import _read_pp_window

        tbl = _read_pp_window(
            os.path.join(self.log_dir, f"partition={pid}"), lo, hi
        )
        if flt is not None:
            tbl = _apply_server_filter(tbl, flt)
        if chain is not None:
            # bounds-before-chain: the [lo, hi) window is already
            # resolved; the chain transforms only what the window kept
            tbl = _apply_server_chain(tbl, chain)
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        return sink.getvalue()

    def produce_ipc(self, pid: int, ipc: bytes) -> dict:
        """Append records to one partition log — CONNECTOR.md's parity
        step 1 (fixture load into a real topic) made executable: the
        payload is an Arrow IPC stream of ``(timestamp, value)`` rows in
        arrival order; the SERVER assigns the next dense offsets of that
        partition's own sequence (the broker owns offsets — a producer
        never picks them) and persists a new immutable fragment.  Offset
        assignment is serialized per server (the per-partition leader's
        append lock)."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        with pa.ipc.open_stream(ipc) as r:
            tbl = r.read_all()
        with self._append_lock:
            part_dir = os.path.join(self.log_dir, f"partition={pid}")
            os.makedirs(part_dir, exist_ok=True)
            from fluvio_duck_spark.sources.pplog import pp_footer_leo

            base = pp_footer_leo(part_dir)
            out = pa.table({
                "offset": pa.array(
                    range(base, base + tbl.num_rows), pa.int64()
                ),
                "timestamp": tbl["timestamp"].cast(pa.timestamp("us")),
                "value": tbl["value"].cast(pa.string()),
            })
            # write-then-rename so the fragment appears ATOMICALLY: a
            # concurrent fetch/parts glob (other handler threads don't
            # hold _append_lock) must never see a half-written footer
            # (ADVICE r8)
            final = os.path.join(part_dir, f"produced-{base:012d}.parquet")
            tmp = final + ".inprogress"
            pq.write_table(out, tmp)
            os.rename(tmp, final)
        return {"base_offset": base, "n": tbl.num_rows}

    def start(self) -> "RecordServer":
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.shutdown()
        self.server_close()


# -- server-side SmartModule filter (CONNECTOR.md §5 MAY clause) ----------

#: The translatable subset of the engine's sql-filter kind: one
#: comparison of a JSON-path extraction cast to a numeric type against a
#: literal.  Anything else stays engine-side (translate returns None).
_FILTER_RE = re.compile(
    r"^\s*cast\s*\(\s*get_json_object\s*\(\s*value\s*,\s*"
    r"'(\$\.[\w.]+)'\s*\)\s+as\s+(int|bigint|double)\s*\)\s*"
    r"(>=|<=|==|=|!=|>|<)\s*(-?\d+(?:\.\d+)?)\s*$",
    re.IGNORECASE,
)

_OPS = {
    ">=": lambda a, b: a >= b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, "<": lambda a, b: a < b,
    "=": lambda a, b: a == b, "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
}


def translate_sql_filter(where: str) -> dict | None:
    """Translate an engine-side sql-filter ``where`` clause into the
    record server's filter DSL — or None when the clause falls outside
    the translatable subset (the caller MUST then keep the filter
    engine-side; a partial translation would change results, the one
    thing CONNECTOR.md §5 forbids).  This is the connector analogue of
    shipping the filter SmartModule to the SPU (reference
    src/consume.rs:713-741): the pushed form must be bit-identical to
    the engine-side chain, which the loopback_filter_pushdown parity
    query pins.

    Cast parity (ADVICE r8): the engine side runs under Spark-4 ANSI
    mode, so ``cast`` THROWS on a value malformed for the target type
    ('12.5' or '12.0' under an int cast, 'true' under either) — it never
    silently drops.  The server interpreter mirrors that exactly: a
    malformed extraction RAISES, and the framed error reply fails the
    pushed leg the same way the engine leg fails (both-fail is the
    bit-identical outcome; a server that dropped the record would
    return a DIFFERENT answer than the engine).  Missing key / JSON
    null → NULL → dropped, both sides.  An int-cast comparison against
    a FRACTIONAL literal is not translated (None): the engine compares
    int-vs-50.5 exactly, which the DSL's int-typed literal can't
    carry."""
    m = _FILTER_RE.match(where)
    if not m:
        return None
    path, cast, op, lit = m.groups()
    cast = cast.lower()
    if cast != "double":
        if "." in lit:
            return None  # int(float('50.5')) would truncate the predicate
        value = int(lit)
    else:
        value = float(lit)
    return {"path": path, "cast": cast, "op": op, "value": value}


def _num_text(x) -> str:
    """Render a parsed JSON number the way Spark's get_json_object does:
    integer lexemes as integers, float lexemes via Java
    ``Double.toString`` — decimal notation in [1e-3, 1e7), scientific
    ``d.dddEn`` outside it (so ``12.50`` → '12.5', ``1e3`` → '1000.0',
    ``1e7`` → '1.0E7').  Python's shortest-roundtrip repr and Java 17's
    algorithm agree on the digits for ordinary values; pathological
    doubles where they differ are outside the pushdown's parity scope."""
    if isinstance(x, int):
        return str(x)
    ax = abs(x)
    if ax == 0.0:
        return "-0.0" if str(x)[0] == "-" else "0.0"
    if 1e-3 <= ax < 1e7:
        r = repr(x)
        return r if "." in r else r + ".0"
    from decimal import Decimal

    d = Decimal(repr(x))
    digits = "".join(map(str, d.as_tuple().digits)).rstrip("0") or "0"
    mant = digits[0] + "." + (digits[1:] or "0")
    sign = "-" if x < 0 else ""
    return f"{sign}{mant}E{d.adjusted()}"


def _parse_json(value_text: str | None):
    """One payload parsed once for any number of
    :func:`_walk_like_get_json_object` calls; a SQL NULL or unparseable
    payload parses to None, which every path walks to None."""
    if value_text is None:
        return None
    try:
        return json.loads(value_text)
    except ValueError:
        return None


def _walk_like_get_json_object(doc, dot_path: str) -> str | None:
    """Mirror Spark's ``get_json_object(value, '$.' + dot_path)`` over
    an already-parsed payload (:func:`_parse_json`): the STRING
    extraction of the matched node as
    :func:`_render_node_like_get_json_object` renders it (verified
    byte-identical against the engine in
    tests/test_loopback.py::test_chain_semantics_match_engine_jolt),
    None for a missing path / JSON null / unparseable payload."""
    for part in dot_path.split("."):
        if not isinstance(doc, dict):
            return None
        doc = doc.get(part)
    return None if doc is None else _render_node_like_get_json_object(doc)


def _extract_like_get_json_object(value_text: str | None,
                                  dot_path: str) -> str | None:
    """:func:`_walk_like_get_json_object` over one unparsed payload."""
    return _walk_like_get_json_object(_parse_json(value_text), dot_path)


def _render_node_like_get_json_object(node) -> str | None:
    """Render one PARSED JSON node the way ``get_json_object`` renders a
    matched node: unquoted strings, ``true``/``false``, numbers via
    :func:`_num_text`, compact re-serialization for objects/arrays.
    Unlike the dot-path extractor, an INDEXED match on a JSON ``null``
    element renders as the text ``null`` (verified against the engine in
    test_array_map_mirror_matches_engine), so the caller maps None
    explicitly."""
    if node is None:
        return "null"
    if isinstance(node, bool):
        return "true" if node else "false"
    if isinstance(node, str):
        return node
    if isinstance(node, (int, float)):
        return _num_text(node)
    return json.dumps(node, separators=(",", ":"), ensure_ascii=False)


def _unnest_like_array_map(value_text: str | None,
                           dot_path: str) -> list[str | None] | None:
    """Mirror of transforms.array_map_transform over one payload: the
    list of element renderings when the path names a non-empty JSON
    array, else None (no output records — missing path, non-array node,
    malformed payload, or empty array)."""
    obj = _parse_json(value_text)
    if dot_path != "$":
        for part in dot_path[2:].split("."):
            if not isinstance(obj, dict):
                return None
            obj = obj.get(part)
    if not isinstance(obj, list) or not obj:
        return None
    return [_render_node_like_get_json_object(e) for e in obj]


#: Spark's string → number cast bodies, after trimming U+0000-U+0020
#: (and U+007F for integral casts): an integral body is one optional
#: sign and ASCII digits; a fractional body is a Java decimal or hex
#: float literal with an optional f/F/d/D suffix, ``[+-]NaN``,
#: ``[+-]Infinity`` or Spark's case-insensitive special literals.
_INTEGRAL_RE = re.compile(r"[+-]?[0-9]+\Z")
_DECIMAL_RE = re.compile(
    r"([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)[fFdD]?\Z")
_HEX_RE = re.compile(
    r"([+-]?0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)"
    r"[pP][+-]?[0-9]+)[fFdD]?\Z")
_SPECIAL_RE = re.compile(
    r"[+-]?(?:NaN|Infinity)\Z|(?i:[+-]?inf(?:inity)?|nan)\Z")
_TRIM = "".join(map(chr, range(0x21)))


def _number_like_spark(text: str | None, integral: bool):
    """The ONE string → number rule of Spark's cast, shared by the
    try-cast twins (malformed → NULL) and the ANSI-cast twin (malformed
    → raise): ASCII digits only — no Unicode digits, no Unicode spaces,
    no ``_`` separators, all of which Python's ``int``/``float`` accept
    — and no fraction or exponent for an integral cast.  Returns the
    int (unranged) or float, or None when malformed.  Verified against
    the engine by tests/test_loopback.py (the fold and cast-parity
    tests) and tests/test_consume.py::test_consume_udtf_quirk_values_parity."""
    if text is None:
        return None
    if integral:
        s = text.strip(_TRIM + "\x7f")
        return int(s) if _INTEGRAL_RE.match(s) else None
    s = text.strip(_TRIM)
    if m := _DECIMAL_RE.match(s):
        return float(m.group(1))
    if m := _HEX_RE.match(s):
        return float.fromhex(m.group(1))
    return float(s) if _SPECIAL_RE.match(s) else None


#: The filter DSL's casts as ``-c`` type codes (mappings.TYPE_CODES).
_FILTER_CASTS = {"int": "i", "bigint": "l", "double": "d"}


def _cast_like_spark(got: str | None, cast: str):
    """Mirror Spark's ANSI cast of get_json_object's STRING extraction:
    integral-only for ``int`` (int32) and ``bigint`` (int64) — a
    fractional, boolean, non-numeric or out-of-range extraction THROWS
    engine-side, so it throws here too (see translate_sql_filter's
    cast-parity note) — numeric strings for ``double``.  Returns the
    number, or raises ValueError exactly where the engine's cast would."""
    v = _try_cast_like_spark(got, _FILTER_CASTS[cast])
    if v is None:
        raise ValueError(f"CAST_INVALID_INPUT: {got!r} as {cast}")
    return v


def _try_cast_like_spark(got: str | None, code: str):
    """Mirror ``try_cast(<string> AS <type>)`` for a ``-c`` type code
    (mappings.TYPE_CODES): ``i``/``l`` integral in int32/int64 range,
    ``f`` narrowed to float32 (overflow → inf, like the engine), ``d``
    double, ``t`` a timestamp (:func:`_timestamp_like_spark`), anything
    else the string itself; malformed → None."""
    if got is None or code not in ("i", "l", "f", "d", "t"):
        return got
    if code == "t":
        return _timestamp_like_spark(got)
    v = _number_like_spark(got, code in ("i", "l"))
    if v is None:
        return None
    if code in ("i", "l"):
        bound = 1 << (31 if code == "i" else 63)
        return v if -bound <= v < bound else None
    return struct.unpack("f", struct.pack("f", v))[0] if code == "f" else v


#: Spark's string → timestamp grammar after trimming U+0000-U+0020 and
#: U+007F: a 4-6 digit year with an optional sign, then optional
#: ``-m[m]``, ``-d[d]``, ``[ T]h[h]``, ``:m[m]``, ``:s[s]``, ``.fraction``
#: (digits past the sixth are truncated) and, after the seconds only, a
#: zone.
_TIMESTAMP_RE = re.compile(
    r"([+-]?[0-9]{4,6})(?:-([0-9]{1,2})(?:-([0-9]{1,2})(?:[ T]([0-9]{1,2})"
    r"(?::([0-9]{1,2})(?::([0-9]{1,2})(?:\.([0-9]*))?([^0-9].*)?)?)?)?)?)?\Z",
    re.DOTALL)
_OFFSET_RE = re.compile(
    r"([+-])([0-9]{2})(?:([0-9]{2})([0-9]{2})?|:([0-9]{2})(?::([0-9]{2}))?)?\Z")


def _zone_like_spark(zone: str):
    """Java's ``ZoneId.of`` after Spark's ``[+-]h:`` and ``[+-]hh:m``
    rewrites: ``Z``, an offset of at most 18 hours, ``UTC``/``GMT``/``UT``
    with an optional offset, or a tz-database region; None otherwise.
    Java's three-letter short IDs (``PST``) are not mirrored."""
    import datetime as dt

    zone = re.sub(r"([+-])([0-9]):", r"\g<1>0\2:", zone.strip(_TRIM), count=1)
    zone = re.sub(r"([+-][0-9]{2}):([0-9])\Z", r"\1:0\2", zone)
    prefix = re.match(r"(?:UTC|GMT|UT)(?=[+-]|\Z)", zone)
    offset = zone[prefix.end():] if prefix else zone
    if offset in ("", "Z"):
        return dt.timezone.utc
    if offset[0] not in "+-":
        import zoneinfo

        try:
            return zoneinfo.ZoneInfo(zone)
        except (KeyError, ValueError, OSError):
            return None
    if len(offset) == 2:
        offset = offset[0] + "0" + offset[1]
    m = _OFFSET_RE.match(offset)
    if not m:
        return None
    sign, hh, mm1, ss1, mm2, ss2 = m.groups()
    h, mi, sec = int(hh), int(mm1 or mm2 or 0), int(ss1 or ss2 or 0)
    total = h * 3600 + mi * 60 + sec
    if h > 18 or mi > 59 or sec > 59 or total > 18 * 3600:
        return None
    return dt.timezone(dt.timedelta(seconds=-total if sign == "-" else total))


def _timestamp_like_spark(text: str):
    """Mirror ``try_cast(<string> AS timestamp)`` in a UTC session as a
    naive UTC datetime: compact dates (``20240101``) and a zone before
    the seconds are NULL, one-digit month/day/time fields are read, and
    a zone is applied, not dropped.  Not mirrored (NULL here): time-only
    strings, which the engine dates today, and years outside 1-9999."""
    import datetime as dt

    m = _TIMESTAMP_RE.match(text.strip(_TRIM + "\x7f"))
    if not m:
        return None
    y, mo, d, h, mi, sec, frac, zone = m.groups()
    tz = dt.timezone.utc if zone is None else _zone_like_spark(zone)
    if tz is None:
        return None
    try:
        ts = dt.datetime(int(y), int(mo or 1), int(d or 1), int(h or 0),
                         int(mi or 0), int(sec or 0),
                         int((frac or "")[:6].ljust(6, "0")), tz)
        return ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    except (ValueError, OverflowError):
        return None


def _apply_server_filter(tbl, flt: dict):
    """Evaluate the filter DSL over one fetched window, record by
    record — the server IS the SPU stand-in, so this is deliberately a
    plain interpreter: JSON-extract the path, cast with Spark's ANSI
    semantics (missing key / JSON null / non-object → NULL → dropped;
    a value MALFORMED for the cast raises, failing the fetch the same
    way the engine leg fails), compare against the literal."""
    import pyarrow as pa

    path = flt["path"][2:]  # "$.a.b" -> "a.b"
    op = _OPS[flt["op"]]
    want = flt["value"]
    cast = flt["cast"]
    keep = []
    for v in tbl["value"].to_pylist():
        got = _extract_like_get_json_object(v, path)
        keep.append(got is not None and op(_cast_like_spark(got, cast), want))
    return tbl.filter(pa.array(keep))


# -- server-side SmartModule transform chain (CONNECTOR.md §5, r9) --------

def translate_transform_chain(transforms) -> list[dict] | None:
    """Translate an ORDERED engine-side SmartModule chain into the record
    server's chain DSL — or None when ANY link falls outside the
    translatable subset (the whole chain then stays engine-side; for the
    partial-win form that pushes the translatable HEAD and keeps the
    tail engine-side — legal because links compose left-to-right, so a
    prefix split never reorders effects across the wire — use
    :func:`split_translatable_prefix`).  This is the connector analogue of shipping
    the full transform chain to the SPU so it executes before bytes
    cross the network (reference src/consume.rs:650-673) — the
    reference examples' entire real workload is exactly one such jolt
    shift (examples/short.yaml:1-29).

    Translatable links:

    * ``sql-filter`` — via :func:`translate_sql_filter` (same subset,
      same ANSI-cast parity).
    * ``infinyon/jolt@…`` with ``shift`` (nested input-path tree, string
      leaves naming output keys) and/or ``default`` (top-level fills) —
      the literal subset the engine interprets (transforms.py).

    Parity scope: shift input paths must name SCALAR leaves (the
    fixture's real shape); a path landing on a nested object
    re-serializes with number lexemes as strings server-side.  The
    loopback_transform_pushdown parity query pins pushed == engine
    bit-identical on the data.

    * ``sql-map`` with one of the mirror-safe rewrites — ``upper(value)``
      / ``lower(value)`` (Unicode full case mapping, identical between
      the JVM and Python on real text) or
      ``get_json_object(value, '$.path')`` (the shared extraction
      mirror).  Any other expression is arbitrary SQL and stays
      engine-side.
    * ``sql-filter-map`` with the same mirror-safe rewrites as the map
      kind — the server drops records whose rewrite comes out NULL (the
      kind's ``Option<Record>`` contract), which both sides decide
      identically on the mirror-safe forms.
    * ``sql-array-map`` with a literal ``$.dot.path`` (or ``$``) — the
      server unnests the JSON array node into one record per element,
      each rendered with the shared get_json_object mirror, inheriting
      the parent record's offset/timestamp/partition.  Stateless per
      record, so it pushes to BOTH the batch and stream readers with no
      task-boundary pinning.
    * ``sum-aggregate`` with ``partitioned=true`` — the aggregate kind's
      per-partition fold (the reference's ACTUAL per-SPU semantics under
      ``-A``: each SPU folds its own log independently,
      src/consume.rs:687-695).  The fold is prefix-stateful WITHIN a
      partition window, so the batch reader pins one task per partition
      when this link is pushed (datasource.py) and the STREAM reader
      refuses to push it (micro-batches would reseed the accumulator).
      The GLOBAL (non-partitioned) fold orders across partition logs —
      no single server-side fetch sees that ordering, so it is never
      translated (None → engine-side, where a single ordered window
      computes it).

    ``transforms`` accepts raw ``{"uses": ..., "with": {...}}`` dicts or
    TransformSpec objects (the latter carry ``aggregate_initial`` from
    the ``--aggregate-initial`` front end; dicts may use an
    ``"aggregate_initial"`` key)."""
    ops, tail = split_translatable_prefix(transforms)
    return ops if not tail else None


def split_translatable_prefix(transforms) -> tuple[list[dict], list]:
    """Longest-prefix variant of :func:`translate_transform_chain` (r9
    verdict #6): translate the translatable HEAD of the chain for the
    server and return the untranslatable TAIL for the engine.  Links
    compose left-to-right, so server-prefix-then-engine-tail preserves
    the chain's semantics exactly — the all-or-nothing rule only ever
    guarded against REORDERING effects across the wire, which a prefix
    split never does.

    One ordering guard survives the split: when the engine tail contains
    a ``sum-aggregate`` link, a pushed unnest upstream would hand the
    engine fold duplicated offsets WITHOUT the engine's element-sequence
    tie-breaker (transforms.ELEM_SEQ_COL travels only through the
    engine-side array_map_transform), so the prefix is cut back to just
    before its first unnest — the unnest and everything after it run
    engine-side, where the fold's input order is the one the
    whole-engine chain would see.

    Returns ``(ops, tail)``; ``tail`` entries keep their original form
    (dict or TransformSpec).  Re-run the tail engine-side via
    ``apply_transform_chain(df, transforms.specs_from_links(tail))`` —
    that conversion preserves a dict link's ``aggregate_initial`` fold
    seed, which a hand-rolled ``TransformSpec(uses=..., params=...)``
    conversion silently drops."""
    transforms = list(transforms)
    per_link: list[list[dict]] = []
    seen_unnest = False
    n_pushed = 0
    for t in transforms:
        link = _translate_link(t, seen_unnest)
        if link is None:
            break
        link_ops, seen_unnest = link
        per_link.append(link_ops)
        n_pushed += 1
    tail = transforms[n_pushed:]
    if any(
        (t["uses"] if isinstance(t, dict) else t.uses) == "sum-aggregate"
        for t in tail
    ):
        for j, link_ops in enumerate(per_link):
            if any(op["kind"] == "unnest" for op in link_ops):
                per_link = per_link[:j]
                tail = transforms[j:]
                break
    return [op for link_ops in per_link for op in link_ops], tail


def _translate_link(t, seen_unnest: bool) -> tuple[list[dict], bool] | None:
    """Translate ONE chain link into server ops (jolt may emit several),
    or None when the link falls outside the translatable subset; returns
    the updated seen-unnest flag alongside the ops."""
    uses = t["uses"] if isinstance(t, dict) else t.uses
    params = (t.get("with", {}) or {}) if isinstance(t, dict) else t.params
    ops: list[dict] = []
    if uses == "sql-filter":
        flt = translate_sql_filter(params.get("where", ""))
        if flt is None:
            return None
        ops.append({"kind": "filter", **flt})
    elif uses == "sql-map":
        mp = _translate_sql_map(params.get("value", ""))
        if mp is None:
            return None
        ops.append(mp)
    elif uses == "sql-filter-map":
        # the filter-map kind's translatable subset is exactly the
        # map kind's (the drop decision is "was the rewrite NULL",
        # which every mirror-safe rewrite decides identically on
        # both sides: upper/lower are NULL only for a NULL payload,
        # json_path is NULL for missing key / JSON null / malformed)
        mp = _translate_sql_map(params.get("value", ""))
        if mp is None:
            return None
        ops.append({**mp, "kind": "filter_map"})
    elif uses == "sql-array-map":
        from fluvio_duck_spark.transforms import _ARRAY_MAP_PATH

        path = params.get("path", "$")
        if not _ARRAY_MAP_PATH.match(path):
            return None
        seen_unnest = True
        ops.append({"kind": "unnest", "path": path})
    elif uses == "sum-aggregate":
        partitioned = str(params.get("partitioned", "")).lower() in (
            "true", "1", "yes")
        if not partitioned:
            # the global fold orders across partition logs; no
            # per-partition fetch can see that ordering — engine-side
            return None
        if seen_unnest:
            # an array-map upstream duplicates offsets; the engine's
            # offset-ordered fold is then order-AMBIGUOUS between
            # tied records, so no server pass can be bit-identical
            # to it — the fold never follows a pushed unnest (and the
            # composition is documented as order-ambiguous engine-side)
            return None
        init = (t.get("aggregate_initial") if isinstance(t, dict)
                else t.aggregate_initial)
        ops.append({"kind": "fold",
                    "field": params.get("field", "k"),
                    "init": int(init or "0")})
    elif uses.startswith("infinyon/jolt@"):
        from fluvio_duck_spark.transforms import (
            TransformError,
            _jolt_leaves,
        )

        spec = params.get("spec")
        if isinstance(spec, str):
            try:
                spec = json.loads(spec)
            except ValueError:
                return None
        if not isinstance(spec, list):
            return None
        for op in spec:
            kind = op.get("operation")
            if kind == "shift":
                try:
                    pairs = _jolt_leaves(op.get("spec", {}))
                except TransformError:
                    return None
                ops.append({"kind": "shift",
                            "pairs": [list(p) for p in pairs]})
            elif kind == "default":
                ops.append({
                    "kind": "default",
                    "fields": [
                        [key, json.dumps(default)]
                        for key, default in op.get("spec", {}).items()
                    ],
                })
            else:
                return None
    else:
        return None
    return ops, seen_unnest


_MAP_CASE_RE = re.compile(r"^\s*(upper|lower)\s*\(\s*value\s*\)\s*$",
                          re.IGNORECASE)
_MAP_JSON_RE = re.compile(
    r"^\s*get_json_object\s*\(\s*value\s*,\s*'(\$\.[\w.]+)'\s*\)\s*$",
    re.IGNORECASE,
)


def _translate_sql_map(expr: str) -> dict | None:
    """The translatable subset of the map kind's ``-e value=<expr>``:
    whole-payload case mapping or a JSON-path extraction (the engine
    runs ``F.expr(expr).cast("string")`` — both forms already yield
    strings, so the cast is an identity)."""
    m = _MAP_CASE_RE.match(expr)
    if m:
        return {"kind": "map", "fn": m.group(1).lower()}
    m = _MAP_JSON_RE.match(expr)
    if m:
        return {"kind": "map", "fn": "json_path", "path": m.group(1)}
    return None


def _to_json_like_spark(fields: list[tuple[str, str | None]]) -> str:
    """Mirror ``to_json(struct(...))`` over string fields: compact,
    field order preserved, NULL fields OMITTED (Spark's default
    ignoreNullFields) — an all-null row renders as ``{}``."""
    return "{" + ",".join(
        json.dumps(name, ensure_ascii=False) + ":"
        + json.dumps(text, ensure_ascii=False)
        for name, text in fields if text is not None
    ) + "}"


def _apply_server_chain(tbl, chain: list[dict]):
    """Apply the translated chain ops IN ORDER over one fetched window —
    the stand-in for the SPU executing the shipped SmartModule chain
    before records cross the wire.  Each op mirrors the engine's
    DataFrame interpretation of the same spec (transforms.py):

    * ``filter`` — :func:`_apply_server_filter` (ANSI-cast parity);
    * ``shift``  — value := to_json(struct(get_json_object(value, in)
      AS out, ...)) per the spec's (input path, output key) pairs;
    * ``default`` — value := to_json(struct(coalesce(extraction,
      json-encoded default) AS key, ...)) over the spec's top-level
      keys;
    * ``fold`` — the aggregate kind's per-partition running sum
      (see the op's inline note);
    * ``filter_map`` — the map mirror's rewrite, then drop-when-NULL
      (fluvio's filter-map kind);
    * ``unnest`` — the array-map kind: one record per JSON-array
      element, parent log position inherited.

    Ordering matters and is pinned by the parity query: a filter that
    references a key a later shift renames would drop everything if the
    server reordered the chain."""
    import pyarrow as pa

    for op in chain:
        if op["kind"] == "filter":
            tbl = _apply_server_filter(tbl, op)
        elif op["kind"] == "map":
            fn = op["fn"]
            vals = tbl["value"].to_pylist()
            if fn == "upper":
                new = [v.upper() if v is not None else None for v in vals]
            elif fn == "lower":
                new = [v.lower() if v is not None else None for v in vals]
            elif fn == "json_path":
                path = op["path"][2:]
                new = [_extract_like_get_json_object(v, path) for v in vals]
            else:
                raise ValueError(f"unknown map fn {fn!r}")
            tbl = tbl.set_column(
                tbl.schema.get_field_index("value"), "value",
                pa.array(new, pa.string()),
            )
        elif op["kind"] == "filter_map":
            # the map mirror's rewrite, then drop-when-NULL — the
            # Option<Record> contract of fluvio's filter-map kind
            fn = op["fn"]
            vals = tbl["value"].to_pylist()
            if fn == "upper":
                new = [v.upper() if v is not None else None for v in vals]
            elif fn == "lower":
                new = [v.lower() if v is not None else None for v in vals]
            elif fn == "json_path":
                path = op["path"][2:]
                new = [_extract_like_get_json_object(v, path) for v in vals]
            else:
                raise ValueError(f"unknown filter_map fn {fn!r}")
            keep = [i for i, v in enumerate(new) if v is not None]
            # typed index array: an all-dropped window takes [] and an
            # untyped empty list infers null, which array_take rejects
            tbl = tbl.take(pa.array(keep, pa.int64())).set_column(
                tbl.schema.get_field_index("value"), "value",
                pa.array([new[i] for i in keep], pa.string()),
            )
        elif op["kind"] == "unnest":
            # the array-map kind: one output record per JSON-array
            # element, offset/timestamp/partition inherited from the
            # parent record; element text per the shared
            # get_json_object mirror (a JSON null element renders as
            # the TEXT 'null' — the engine's indexed extraction does)
            path = op["path"]
            idx: list[int] = []
            new = []
            for i, v in enumerate(tbl["value"].to_pylist()):
                elems = _unnest_like_array_map(v, path)
                if elems is None:
                    continue
                idx.extend([i] * len(elems))
                new.extend(elems)
            tbl = tbl.take(pa.array(idx, pa.int64())).set_column(
                tbl.schema.get_field_index("value"), "value",
                pa.array(new, pa.string()),
            )
        elif op["kind"] == "shift":
            pairs = [(inp, out) for inp, out in op["pairs"]]
            new = [
                _to_json_like_spark(
                    [(out, _extract_like_get_json_object(v, inp))
                     for inp, out in pairs]
                )
                for v in tbl["value"].to_pylist()
            ]
            tbl = tbl.set_column(
                tbl.schema.get_field_index("value"), "value",
                pa.array(new, pa.string()),
            )
        elif op["kind"] == "fold":
            # the aggregate kind's per-partition running sum (engine:
            # init + SUM(try_cast(extract AS long)) OVER the offset-
            # ordered window, transforms.py:135-162): invalid/missing
            # payloads are skipped (sum ignores NULL); until the first
            # valid payload the sum is NULL, so init + NULL renders the
            # record's value as NULL — both sides.  The fetched window
            # IS the fold scope (bounds-before-chain), which is why the
            # reader plans one task per partition when this op is pushed.
            path = op["field"]
            init = op["init"]
            total: int | None = None
            new = []
            for v in tbl["value"].to_pylist():
                k = _try_cast_like_spark(
                    _extract_like_get_json_object(v, path), "l"
                )
                if k is not None:
                    total = (total or 0) + k
                new.append(None if total is None else str(init + total))
            tbl = tbl.set_column(
                tbl.schema.get_field_index("value"), "value",
                pa.array(new, pa.string()),
            )
        elif op["kind"] == "default":
            fields = [(key, dflt) for key, dflt in op["fields"]]
            new = [
                _to_json_like_spark(
                    [(key,
                      got if (got := _extract_like_get_json_object(v, key))
                      is not None else dflt)
                     for key, dflt in fields]
                )
                for v in tbl["value"].to_pylist()
            ]
            tbl = tbl.set_column(
                tbl.schema.get_field_index("value"), "value",
                pa.array(new, pa.string()),
            )
        else:
            raise ValueError(f"unknown chain op kind {op.get('kind')!r}")
    return tbl


# -- client side (used driver-side for metadata, EXECUTOR-side for fetch) --

class RecordServerError(RuntimeError):
    """The server replied with a framed error — the actual server-side
    failure, not an opaque transport error (ADVICE r8)."""


def _check_error(payload: bytes) -> bytes:
    """Detect a framed {"error": ...} reply.  Arrow IPC never begins
    with '{' (streams start with a length/continuation word), and the
    JSON metadata replies are dicts whose keys are partition ids or
    produce fields, so the probe is unambiguous."""
    if payload[:1] == b"{":
        try:
            obj = json.loads(payload)
        except ValueError:
            return payload
        if isinstance(obj, dict) and "error" in obj:
            raise RecordServerError(obj["error"])
    return payload


def _request(addr: str, req: dict) -> bytes:
    host, port = addr.rsplit(":", 1)
    with socket.create_connection((host, int(port)), timeout=60) as sock:
        sock.sendall(json.dumps(req).encode() + b"\n")
        (n,) = struct.unpack(">Q", _recv_exact(sock, 8))
        return _check_error(_recv_exact(sock, n))


def server_produce(addr: str, pid: int, table) -> dict:
    """Produce ``(timestamp, value)`` rows to one partition in arrival
    order; the server assigns the next dense offsets and returns
    ``{"base_offset": ..., "n": ...}`` — the producer half of the
    reference lifecycle (CONNECTOR.md parity step 1)."""
    import pyarrow as pa

    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    body = sink.getvalue()
    host, port = addr.rsplit(":", 1)
    with socket.create_connection((host, int(port)), timeout=60) as sock:
        sock.sendall(
            json.dumps(
                {"op": "produce", "pid": pid, "payload_bytes": len(body)}
            ).encode() + b"\n" + body
        )
        (n,) = struct.unpack(">Q", _recv_exact(sock, 8))
        return json.loads(_check_error(_recv_exact(sock, n)))


def server_parts(addr: str) -> dict[int, int]:
    """partition id → LEO, from the server's metadata endpoint — the
    plan-time offset/admin RPC of the connector contract."""
    return {int(k): int(v) for k, v in json.loads(_request(addr, {"op": "parts"})).items()}


def server_fetch(addr: str, pid: int, lo: int, hi: int | None,
                 flt: dict | None = None,
                 chain: list[dict] | None = None):
    """One partition's records with offsets in ``[lo, hi)``, as an Arrow
    table — the executor-side bounded range read.  ``flt`` optionally
    pushes a translated SmartModule filter to the server; ``chain``
    pushes a whole translated transform chain (filter/jolt links, the
    §5 MAY clause) — the server applies them before the bytes cross
    the wire."""
    import pyarrow as pa

    req = {"op": "fetch", "pid": pid, "lo": lo, "hi": hi}
    if flt is not None:
        req["filter"] = flt
    if chain is not None:
        req["chain"] = chain
    payload = _request(addr, req)
    with pa.ipc.open_stream(payload) as r:
        return r.read_all()
