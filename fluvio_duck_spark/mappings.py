"""Column mapping: ``-c name[:code]=json.path`` → typed Spark columns.

The reference implements this as per-record mapper objects writing into
DuckDB vectors (``MappingTrait`` dispatch, reference src/consume.rs:248-258;
``JqlMapper`` JSON-path walk + type dispatch :311-443; column-spec parser
:223-245; default schema synthesis :607-637).  The reference parses each
payload once (``serde_json::from_slice``, :328) and walks every path over
the parsed value.  Here the mappings become Catalyst expressions, so
extraction stays JVM-side inside whole-stage codegen; no Python runs per
record.  :func:`extract_paths` picks one of two forms:

* **one parse** — when the paths name >= 2 distinct plain dot paths
  (keys ``[A-Za-z_][A-Za-z0-9_]*``, optional ``$.`` prefix, no path both
  a leaf and a branch, no sibling keys that differ only in case): one
  ``from_json`` over a pruned struct with STRING leaves, in its own
  projection, and each mapping reads its nested field.  ``CollapseProject`` does not inline a non-cheap
  expression that is referenced more than once, so the parse stays
  single (pinned by tests/test_plan_shapes.py).
* **per path** — ``get_json_object`` per mapping for everything else: a
  single distinct path (one extraction is cheaper than a struct parse),
  ``$[...]`` / wildcard paths, leaf/branch conflicts and case-only
  sibling differences.

Either way each mapping is then a ``try_cast`` to its declared type.

Type codes (reference src/consume.rs:227-241):
  ``i``→int, ``l``→long (reference declares UINTEGER but writes u64 —
  width bug, SURVEY §1.4.7 — we widen), ``f``→float, ``d``→double,
  ``t``→timestamp (RFC-3339 input), ``s`` or anything else→string.

Documented divergences from the reference (SURVEY §1.4):
  * JSON ``null`` / missing path / parse failure → SQL NULL (the reference
    writes 0 / 0.0 / the literal string "null" / the jql error message).
  * default ``offset`` column is LONG (the reference truncates i64→u32).
  * duplicate keys: the one-parse form keeps the LAST value, like the
    reference's ``serde_json::Value`` and the loopback mirror
    (``json.loads``); the per-path form (and DuckDB) keep the first.
  * ``NaN`` / ``Infinity`` tokens (not JSON; ``serde_json`` rejects the
    payload): the per-path form returns NULL for every path of such a
    payload.  The one-parse form parses with
    ``allowNonNumericNumbers=false``, so the token never becomes a value,
    but Spark's partial-results rule can keep fields parsed before it
    (``{"e": 1, "a": {"c": NaN}}`` keeps ``e``; a token in an unselected
    field NULLs the whole record).

Otherwise the two forms agree (tests/test_consume.py pins the battery):
nested objects re-serialized compactly, number rendering (``1E3`` →
``1000.0``, ``60.1710`` → ``60.171``, 20-digit integers kept whole),
``\\u`` escapes, booleans, JSON ``null``, missing paths, non-object
intermediates, top-level arrays, truncated or empty payloads, SQL NULL.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# type-code → Spark type, mirroring reference src/consume.rs:227-241
TYPE_CODES: dict[str, T.DataType] = {
    "i": T.IntegerType(),
    "l": T.LongType(),
    "f": T.FloatType(),
    "d": T.DoubleType(),
    "t": T.TimestampType(),
    "s": T.StringType(),
}

#: Names of the default (no ``-c``) output columns — reference
#: src/consume.rs:607-637.
DEFAULT_COLUMN_NAMES = ("offset", "timestamp", "value")


def parse_column_spec(name_spec: str) -> tuple[str, T.DataType]:
    """``"speed:d"`` → ``("speed", DoubleType)``; unknown/missing code →
    string (reference src/consume.rs:237-240 falls through to VARCHAR)."""
    name, sep, code = name_spec.partition(":")
    if not sep:
        return name, T.StringType()
    return name, TYPE_CODES.get(code, T.StringType())


def json_path_expr(path: str) -> str:
    """A jql-style dot path (``contact.ph``) → a JsonPath (``$.contact.ph``).

    The reference walks the payload with the jql crate
    (reference src/consume.rs:329-336); ``get_json_object`` gives the same
    leaf-extraction semantics, including re-serializing non-leaf values to
    JSON text (reference src/consume.rs:429-438)."""
    if path.startswith("$"):
        return path
    return "$." + path


#: One path segment the one-parse form accepts.
_PLAIN_KEY = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _plain_keys(path: str) -> tuple[str, ...] | None:
    keys = (path[2:] if path.startswith("$.") else path).split(".")
    return tuple(keys) if all(_PLAIN_KEY.match(k) for k in keys) else None


def _pruned_schema(keyed: list[tuple[str, ...]]) -> T.StructType | None:
    """The nested STRING-leaf struct covering ``keyed``, or None when a
    path is both a leaf and a branch of another, or when two sibling keys
    differ only in case (the analyzer resolves field names
    case-insensitively, so reading either would be ambiguous)."""
    tree: dict = {}
    for keys in keyed:
        node = tree
        for depth, k in enumerate(keys, 1):
            if any(o != k and o.lower() == k.lower() for o in node):
                return None
            branch = depth < len(keys)
            node = node.setdefault(k, {} if branch else T.StringType())
            if isinstance(node, dict) != branch:
                return None

    def struct(node: dict) -> T.StructType:
        return T.StructType([
            T.StructField(k, struct(v) if isinstance(v, dict) else v)
            for k, v in node.items()
        ])

    return struct(tree)


#: One field to extract from the payload: ``(path, output name, declared
#: type)``; a None name leaves the column unaliased, a None type leaves it
#: the raw STRING.
Field = tuple[str, str | None, T.DataType | None]


def _sql_type(dtype: T.DataType) -> str:
    # a bare TIMESTAMP follows spark.sql.timestampType; the `t` code is LTZ
    if isinstance(dtype, T.TimestampType):
        return "timestamp_ltz"
    return dtype.simpleString()


def _per_path(value: Column, path: str, name: str | None,
              dtype: T.DataType | None) -> Column:
    col = F.get_json_object(value, json_path_expr(path))
    # try_cast everywhere: malformed input → NULL, not an ANSI runtime error.
    # For `t` columns this matches RFC-3339 parsing with NULL on failure
    # (reference src/consume.rs:346-354 logs and skips — SURVEY §1.4.6);
    # for numeric codes it gives SQL NULL where the reference writes 0 /
    # "null" / an error message (SURVEY §1.4.3, documented divergence).
    if dtype is not None:
        col = col.try_cast(_sql_type(dtype))
    return col if name is None else col.alias(name)


def _from_parsed(keys: tuple[str, ...], name: str | None,
                 dtype: T.DataType | None) -> Column:
    # The same field as one SQL expression: F.col and every Column method
    # report their call site to the JVM, ten round trips each, and F.expr
    # does not.  Plain keys and a backquoted name keep the text exact.
    sql = ".".join(["value"] + [f"`{k}`" for k in keys])
    if dtype is not None:
        sql = f"try_cast({sql} AS {_sql_type(dtype)})"
    if name is not None:
        sql += " AS `" + name.replace("`", "``") + "`"
    return F.expr(sql)


def mapped_column(value_col: Column, name_spec: str, path: str) -> Column:
    """The per-path form of one ``-c`` mapping."""
    name, dtype = parse_column_spec(name_spec)
    return _per_path(value_col, path, name, dtype)


def extract_paths(df: DataFrame, fields: list[Field]) -> tuple[DataFrame, list[Column]]:
    """One column per field: the STRING at its path of the ``value``
    payload, rendered as ``get_json_object`` renders it, then cast and
    aliased as the field says.  Read the columns from the returned frame
    (see the module docstring for the two forms): in the one-parse form
    its ``value`` is the parsed payload struct; otherwise it is ``df``."""
    keyed = [_plain_keys(path) for path, _, _ in fields]
    schema = (
        _pruned_schema(keyed)
        if None not in keyed and len(set(keyed)) > 1 else None
    )
    value = F.col("value")
    if schema is None:
        return df, [_per_path(value, *field) for field in fields]
    parsed = F.from_json(value, schema, {"allowNonNumericNumbers": "false"})
    return df.withColumn("value", parsed), [
        _from_parsed(keys, name, dtype)
        for keys, (_, name, dtype) in zip(keyed, fields)
    ]


def default_columns() -> list[Column]:
    """The default ``(offset, timestamp, value)`` projection over the
    record-log columns (reference src/consume.rs:607-637).

    ``offset`` stays LONG (divergence: reference truncates to int32 via
    ``record.offset() as u32``, src/consume.rs:272)."""
    return [
        F.col("offset").cast(T.LongType()).alias("offset"),
        F.col("timestamp").alias("timestamp"),
        F.col("value").cast(T.StringType()).alias("value"),
    ]


def project(df: DataFrame, columns: list[tuple[str, str]],
            parse_once: bool = True) -> DataFrame:
    """Full output projection: the ``-c`` mappings if any were given,
    else the default three columns.  ``parse_once=False`` keeps every
    mapping in the per-path form, in a single projection: over an ordered
    limit, Spark plans a top-N heap (TakeOrderedAndProject) only when one
    projection sits between the limit and its sort."""
    if not columns:
        return df.select(default_columns())
    if not parse_once:
        value = F.col("value")
        return df.select([mapped_column(value, spec, path) for spec, path in columns])
    df, cols = extract_paths(
        df, [(path, *parse_column_spec(spec)) for spec, path in columns]
    )
    return df.select(cols)


def infer_value_schema(df, value_col: str = "value", sample: int = 1000):
    """Schema inference over the JSON payload column — the extension
    SURVEY §1.2 allows beyond the reference's explicit-mappings-only
    surface (the reference never infers; fidelity mode is ``-c`` flags).

    Inference is inherently a bounded-sample, driver-side decision: we
    read ``sample`` payloads and let Spark's JSON reader unify their
    types.  The *application* of the schema (``from_json``) is still a
    distributed JVM expression — only the tiny sample crosses to the
    driver, never the data."""
    spark = df.sparkSession
    strings = df.select(value_col).limit(sample).rdd.map(lambda r: r[0] or "{}")
    return spark.read.json(strings).schema


def expand_value(df, value_col: str = "value", schema=None, sample: int = 1000):
    """``value`` JSON text → one typed column per inferred/given field,
    keeping all non-value columns.  ``from_json`` + star-expansion runs
    in codegen; malformed payloads yield NULL fields (PERMISSIVE)."""
    schema = schema or infer_value_schema(df, value_col, sample)
    others = [c for c in df.columns if c != value_col]
    return df.select(
        *others, F.from_json(F.col(value_col), schema).alias("__j")
    ).select(*others, "__j.*")
