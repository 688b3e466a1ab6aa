#!/usr/bin/env python
"""Registry-wide physical-plan census: build EVERY registered query at a
small sf and count its plan operators, flagging the anti-patterns the
per-query plan-shape tests guard individually:

- ``BatchEvalPython``   — row-at-a-time Python in the plan (never allowed)
- ``CartesianProduct``  — unbroadcast cross join (never allowed)
- ``BroadcastNestedLoopJoin`` — allowed ONLY for 1-row scalar broadcasts
  (the crossJoin(F.broadcast(<1-row agg>)) pattern); each occurrence is
  listed for review
- ``ArrowEvalPython`` / ``MapInPandas`` etc. — Arrow-batched Python passes,
  listed so the count is visible (each should have a documented reason)

and recording ``json_parses``: the ``from_json`` + ``get_json_object``
expressions in the executed plan, i.e. how often each record's payload
is parsed (``plans.json_parses``).

Writes ``plan_census.json`` at the repo root and prints a summary.
Queries that execute work eagerly inside their builder (streaming gates,
iterative fits) still yield a final DataFrame whose plan is censused.

Usage: python scripts/plan_census.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

FLAG_OPS = ("BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin")
PY_OPS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
          "FlatMapGroupsInPandasWithState")


def main() -> None:
    from fluvio_duck_spark.plans import bnlj_audit, json_parses, plan_ops
    from fluvio_duck_spark.queries import all_queries
    from fluvio_duck_spark.session import get_spark

    spark = get_spark("plan-census")
    census: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name, spec in all_queries().items():
        try:
            df = spec.fn(spark, SF_DIR)
            ops = plan_ops(df)
        except Exception as exc:  # noqa: BLE001 — census must finish
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        row = {
            "exchanges": ops.get("Exchange", 0),
            "windows": ops.get("Window", 0),
            "smj": ops.get("SortMergeJoin", 0),
            "bhj": ops.get("BroadcastHashJoin", 0),
            "py_arrow": sum(ops.get(o, 0) for o in PY_OPS),
            "json_parses": sum(json_parses(df).values()),
            "flags": {o: ops[o] for o in FLAG_OPS if ops.get(o, 0) > 0},
            # Result-schema receipt for the driver-hashability gate
            # (VERDICT r6 #7): the r02 agg_exact_percentiles red was the
            # driver's pandas canonicalizer crashing on a list-typed
            # result column — record every query's output types so CI
            # can reject non-atomic columns before a driver round does.
            "result_schema": {f.name: f.dataType.simpleString()
                              for f in df.schema.fields},
        }
        if row["flags"].get("BroadcastNestedLoopJoin"):
            # Mechanical adjudication (VERDICT r6 #2): every BNLJ's
            # broadcast subtree must carry a provable small row bound
            # (scalar aggregate → 1, explicit limit, literal table).
            row["bnlj_audit"] = bnlj_audit(df)
        census[name] = row

    flagged = {n: r["flags"] for n, r in census.items() if r["flags"]}
    out = {
        "sf_dir": SF_DIR,
        "n_queries": len(census),
        "n_errors": len(errors),
        "errors": errors,
        "flagged": flagged,
        "census": census,
    }
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plan_census.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"censused {len(census)} queries, {len(errors)} errors")
    print(f"flagged ({len(flagged)}):")
    for n, f in sorted(flagged.items()):
        audit = census[n].get("bnlj_audit", [])
        bad = [a for a in audit if not a["ok"]]
        note = f"  UNPROVEN x{len(bad)}" if bad else ""
        print(f"  {n}: {f}{note}")
    total_py = sum(r["py_arrow"] for r in census.values())
    print(f"arrow-python passes across registry: {total_py}")
    parsing = sum(1 for r in census.values() if r["json_parses"])
    print(f"queries parsing JSON payloads: {parsing}")
    unproven = {n for n, r in census.items()
                if any(not a["ok"] for a in r.get("bnlj_audit", []))}
    print(f"BNLJ unproven-bound queries ({len(unproven)}): {sorted(unproven)}")


if __name__ == "__main__":
    main()
