#!/usr/bin/env python
"""Local approximation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()``
on DuckDB at a given sf dir, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by their
canonicalized repr).  Exact float equality — the query suite is designed so
both engines produce bit-identical doubles (exact decimal accumulation cast
to double at the end).

Usage: python scripts/verify_local.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Result types the driver's pandas canon mangles even when values are
#: correct: DuckDB HUGEINT -> float64 ("3" -> "3.0" hash drift) and
#: LIST/STRUCT/MAP cells -> unhashable (TypeError in the driver's sort).
#: Round 2 shipped local-green/driver-red exactly because fetchall()
#: round-trips these fine — so the gate now rejects them outright
#: (VERDICT r2 "Next round" #2; scripts/lint_oracle_types.py is the
#: standalone no-execution version).
BAD_DUCK_TYPES = re.compile(r"HUGEINT|\bLIST\b|\[\]|STRUCT|MAP\(", re.IGNORECASE)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from fluvio_duck_spark.session import get_spark

    # SPARK_GRAFT_SHUFFLE varies the partition layout: re-running the
    # whole gate under a different core/partition count proves every
    # oracle hash is partitioning-independent, not an artifact of one
    # fixed layout
    # no console progress bar: it shares stderr/stdout with the OK/FAIL
    # lines and glues them to a "[Stage ...]" line, so a line-anchored
    # count (round_gate.sh) misses names
    spark = get_spark(
        "verify-local",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    con = duckdb.connect()
    for t in TABLES:
        # <table>.parquet may be a DIRECTORY of part files (the bench
        # cache / gen_sf1 layout) — same both-layouts rule every reader
        # in the repo follows
        path = f"{SF_DIR}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            if name in oracles:
                from pyspark.sql import types as T

                nested = [
                    (f.name, f.dataType.simpleString())
                    for f in sdf.schema.fields
                    if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
                ]
                if nested:
                    failures.append(name)
                    print(f"FAIL  {name}: result surfaces driver-canon-unsafe columns {nested}")
                    continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            s_n, s_h = table_hash(scols, srows)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS-ONLY  {name}: rows={s_n} (no oracle)")
            continue
        try:
            lint = [
                (c, ty)
                for c, ty, *_ in con.execute(f"DESCRIBE ({sql})").fetchall()
                if BAD_DUCK_TYPES.search(ty)
            ]
            if lint:
                failures.append(name)
                print(f"FAIL  {name}: oracle surfaces driver-canon-unsafe types {lint}")
                continue
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            d_n, d_h = table_hash(dcols, drows)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL  {name}: columns differ spark={sorted(scols)} duckdb={sorted(dcols)}")
        elif s_n != d_n:
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={s_n} duckdb={d_n}")
        elif s_h != d_h:
            failures.append(name)
            print(f"FAIL  {name}: value hash mismatch ({s_n} rows)")
            diff_preview(scols, srows, dcols, drows)
        else:
            print(f"OK    {name}: rows={s_n} hash={s_h}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def diff_preview(scols, srows, dcols, drows, k: int = 3):
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    s = sorted("\x1f".join(canon(r[i]) for i in sorder) for r in srows)
    d = sorted("\x1f".join(canon(r[i]) for i in dorder) for r in drows)
    s_only = [x for x in s if x not in set(d)][:k]
    d_only = [x for x in d if x not in set(s)][:k]
    for x in s_only:
        print("      spark-only :", x.replace("\x1f", " | ")[:220])
    for x in d_only:
        print("      duckdb-only:", x.replace("\x1f", " | ")[:220])


if __name__ == "__main__":
    raise SystemExit(main())
