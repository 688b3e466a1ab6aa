#!/usr/bin/env python
"""Result-type lint: the driver's correctness canon round-trips both engines
through pandas, where DuckDB HUGEINT becomes float64 (``3`` -> ``"3.0"``)
and list-typed cells crash the hash (``TypeError: unhashable type: 'list'``).
A query can therefore be value-correct yet driver-red (VERDICT r2 "What's
wrong" #1/#2).  This lint makes that class unshippable:

* DuckDB side: ``DESCRIBE`` every oracle (no execution) and reject any
  result column typed HUGEINT / UHUGEINT / LIST / ARRAY / STRUCT / MAP.
* Spark side: analyze every oracle-paired query's schema and reject
  Array/Map/Struct result columns.  Building most queries is pure plan
  analysis, but sink_*/stream_* queries RUN to produce their result
  (filesystem round-trips, streaming drains) — those are excluded here
  and covered by the full verify gate instead, keeping this lint
  side-effect-free (ADVICE r3).

Usage: python scripts/lint_oracle_types.py [sf_dir]
Exit 0 = clean.  Run as part of the local gate before any commit that adds
or edits an oracle.
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

BAD_DUCK = re.compile(r"HUGEINT|\bLIST\b|\[\]|STRUCT|MAP\(", re.IGNORECASE)


def main() -> int:
    import duckdb
    from pyspark.sql import types as T

    import __spark_entry__ as entry_mod
    from fluvio_duck_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    bad: list[str] = []
    oracles = entry_mod.oracle_sql()
    for name, sql in sorted(oracles.items()):
        try:
            desc = con.execute(f"DESCRIBE ({sql})").fetchall()
        except Exception as e:  # noqa: BLE001
            bad.append(name)
            print(f"LINT-ERR  {name}: DESCRIBE failed: {type(e).__name__}: {e}")
            continue
        flagged = [(c, ty) for c, ty, *_ in desc if BAD_DUCK.search(ty)]
        if flagged:
            bad.append(name)
            print(f"LINT-FAIL {name} (duckdb): {flagged}")

    spark = get_spark("lint-oracle-types", shuffle_partitions=8)
    queries = entry_mod.queries()
    for name, fn in sorted(queries.items()):
        if name not in oracles:
            continue  # rows-only entries never reach the pandas hash
        if name.startswith(("sink_", "stream_")):
            # building these EXECUTES (writes/streaming drains) just to
            # expose .schema — verify_local covers them; the lint stays
            # a pure-analysis pass
            continue
        try:
            schema = fn(spark, SF_DIR).schema
        except Exception as e:  # noqa: BLE001
            bad.append(name)
            print(f"LINT-ERR  {name}: spark analysis failed: {type(e).__name__}: {e}")
            continue
        flagged = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if flagged:
            bad.append(name)
            print(f"LINT-FAIL {name} (spark): {flagged}")

    bad = sorted(set(bad))
    print(f"\n{len(bad)} lint failures" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
