"""Physical-plan inspection helpers.

The engine's performance contract is enforced as *plan-shape assertions*
(SCALE.md's audit table): a query claims "one shuffle, dims broadcast,
no Python in the hot path" and a test checks the executed plan says so.
These helpers are the shared vocabulary for those checks — no custom
Catalyst rules live here (SURVEY §4: nothing in the reference's surface
needs one; the builders construct pushdown-friendly plans and Catalyst
does the rest).
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Executed physical plan text (runs AQE re-planning if the query has
    already been executed; call after an action for final-plan audits)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """`EXPLAIN FORMATTED` text — each operator printed once with an id,
    so node counts are not inflated by AQE's repeated subtree printing."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_ops(df: DataFrame) -> Counter:
    """Operator-name → count from the formatted plan (e.g. ``Exchange``,
    ``BroadcastHashJoin``, ``ArrowEvalPython``, ``Scan parquet``).
    Codegen-id suffixes are stripped so counts group by operator."""
    ops = Counter()
    for line in formatted_plan(df).splitlines():
        m = re.match(r"^\s*\(\d+\)\s+(.*)$", line)
        if m:
            ops[m.group(1).split(" [")[0].strip()] += 1
    return ops


#: Expressions that parse the whole JSON payload each time they run, by
#: SQL name → Catalyst class.
_JSON_PARSERS = {"from_json": "JsonToStructs", "get_json_object": "GetJsonObject"}


def json_parses(df: DataFrame) -> Counter:
    """JSON-parsing expression → occurrences in the plan, i.e. how often
    each record that reaches them is parsed.  A batch frame is read from
    its physical plan (under AQE the input plan, which running the query
    leaves as it is, where the query stages' JSON repeats their plans); a
    streaming frame has no physical plan until it starts, so its
    optimized logical plan is read.  The plan is read as JSON, where every expression node names
    its class: the text renderings elide expressions (TakeOrderedAndProject
    prints only its output) and truncate long argument lists."""
    qe = df._jdf.queryExecution()
    if df.isStreaming:
        optimizer = df.sparkSession._jsparkSession.sessionState().optimizer()
        plan = optimizer.execute(qe.analyzed())
    else:
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.inputPlan()
    text = plan.toJSON()
    return Counter({
        name: text.count(f'"class":"org.apache.spark.sql.catalyst.expressions.{cls}"')
        for name, cls in _JSON_PARSERS.items()
    })


def scan_selected_partitions(df: DataFrame) -> tuple[int, str]:
    """(number of Hive-style partition directories the file scan will
    actually read, partition-filter text) for a single-scan plan.
    ``selectedPartitions`` is resolved at physical planning with the
    partition filters applied, so this is the *physical* pruning proof —
    a pruned probe returns 1/n_cells of the directories, not a plan
    string claim."""
    leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    # Spark 4: selectedPartitions is a ScanFileListing
    n = leaf.selectedPartitions().partitionCount()
    return n, leaf.partitionFilters().toString()


def assert_plan(df: DataFrame, **bounds: int) -> Counter:
    """Assert upper bounds on operator counts, e.g.
    ``assert_plan(df, Exchange=1, SortMergeJoin=0)``.  Underscores in
    keyword names stand for spaces (``Scan_parquet=1``).  Returns the
    counts for further checks."""
    ops = plan_ops(df)
    for name, bound in bounds.items():
        key = name.replace("_", " ")
        actual = ops.get(key, 0)
        assert actual <= bound, (
            f"plan has {actual} × {key!r}, expected ≤ {bound}:\n{formatted_plan(df)}"
        )
    return ops


def _jchildren(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


#: Nodes whose output row count equals (or is bounded by) their single
#: child's: projections, filters, sorts, exchanges, codegen wrappers…
_PASS_THROUGH = frozenset({
    "ProjectExec", "FilterExec", "SortExec", "CoalesceExec",
    "ShuffleExchangeExec", "BroadcastExchangeExec", "WholeStageCodegenExec",
    "InputAdapter", "ColumnarToRowExec", "RowToColumnarExec",
    "AQEShuffleReadExec", "WindowExec", "WindowGroupLimitExec",
    "DeserializeToObjectExec", "SerializeFromObjectExec", "SubqueryExec",
    "SubqueryBroadcastExec", "QueryStageExec", "ShuffleQueryStageExec",
    "BroadcastQueryStageExec", "TableCacheQueryStageExec",
    "InMemoryTableScanExec",
})

_JOINS = frozenset({
    "BroadcastNestedLoopJoinExec", "BroadcastHashJoinExec",
    "SortMergeJoinExec", "ShuffledHashJoinExec", "CartesianProductExec",
})


def rows_bound(node) -> int | None:
    """Provable upper bound on a physical node's output row count, or
    ``None`` when the plan alone can't bound it.  This is the mechanical
    adjudicator for BroadcastNestedLoopJoin flags (VERDICT r6 #2): the
    sanctioned pattern — ``crossJoin(F.broadcast(<scalar agg>))`` — shows
    up as a broadcast subtree bounded at 1 row, while a data-sized
    nested-loop side has no bound and fails the census gate."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return rows_bound(node.inputPlan())
    if cls == "ReusedExchangeExec":
        # Leaf in the tree but carries a reference to the original
        # exchange subtree — bound is the original's.
        return rows_bound(node.child())
    if cls in ("HashAggregateExec", "ObjectHashAggregateExec",
               "SortAggregateExec"):
        if node.groupingExpressions().isEmpty():
            return 1  # scalar aggregate: exactly one row
        return None
    if cls == "RangeExec":
        return int(str(node.numElements()))
    if cls == "LocalTableScanExec":
        return node.rows().size()
    if cls in ("GlobalLimitExec", "CollectLimitExec",
               "TakeOrderedAndProjectExec"):
        return int(node.limit())
    if cls == "LocalLimitExec":
        child = rows_bound(_jchildren(node)[0])
        lim = int(node.limit())
        return lim if child is None else min(lim, child)
    if cls == "UnionExec":
        total = 0
        for c in _jchildren(node):
            b = rows_bound(c)
            if b is None:
                return None
            total += b
        return total
    if cls in _JOINS:
        kids = _jchildren(node)
        bounds = [rows_bound(c) for c in kids]
        if len(bounds) != 2:
            return None
        left, right = bounds
        jt = str(node.joinType()) if hasattr(node, "joinType") else "Inner"
        # semi/anti/existence preserve only left rows — right bound not
        # needed, and never multiplied
        if jt in ("LeftSemi", "LeftAnti") or jt.startswith("ExistenceJoin"):
            return left
        if left is None or right is None:
            return None
        prod = left * right
        # outer joins also emit unmatched preserved-side rows: the
        # product alone is NOT an upper bound (a left-outer BNLJ with a
        # provably-0-row build side still emits every left row —
        # ADVICE r7)
        if jt == "LeftOuter":
            return prod + left
        if jt == "RightOuter":
            return prod + right
        if jt == "FullOuter":
            return prod + left + right
        return prod  # Inner / Cross
    if cls in _PASS_THROUGH:
        kids = _jchildren(node)
        if len(kids) == 1:
            return rows_bound(kids[0])
        if not kids and hasattr(node, "plan"):  # query-stage wrappers
            return rows_bound(node.plan())
        return None
    return None


def _is_scalar_explode(node) -> bool:
    """True when the subtree is a Generate (explode of a computed array,
    e.g. ``sequence(min_ts, max_ts, 1 hour)``) over a provably-1-row
    input — the gap-fill spine pattern: the broadcast volume is ONE
    array, scaling with the value range (hours between min and max),
    never with table row count."""
    cls = node.getClass().getSimpleName()
    if cls == "GenerateExec":
        return rows_bound(_jchildren(node)[0]) == 1
    if cls == "ReusedExchangeExec":
        return _is_scalar_explode(node.child())
    if cls in _PASS_THROUGH:
        kids = _jchildren(node)
        if len(kids) == 1:
            return _is_scalar_explode(kids[0])
    return False


def bnlj_audit(df: DataFrame, max_rows: int = 262_144) -> list[dict]:
    """One entry per BroadcastNestedLoopJoin anywhere in the plan
    (subquery plans included): the build side, the provable row bound of
    the broadcast subtree, and ``ok`` = bounded at ≤ ``max_rows`` rows
    (or the scalar-explode spine shape).  An un-``ok`` entry means a
    data-sized nested-loop join smuggled in."""
    out: list[dict] = []
    seen: set[int] = set()

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.inputPlan())
            return
        if cls == "BroadcastNestedLoopJoinExec":
            side = str(node.buildSide())
            kids = _jchildren(node)
            build = kids[1] if side == "BuildRight" else kids[0]
            bound = rows_bound(build)
            if bound is None and _is_scalar_explode(build):
                bound = "scalar_explode"
            out.append({
                "build_side": side,
                "broadcast_bound": bound,
                "ok": bound == "scalar_explode"
                or (bound is not None and bound <= max_rows),
            })
        for c in _jchildren(node):
            walk(c)
        subs = node.subqueries()
        for i in range(subs.size()):
            sub = subs.apply(i)
            key = sub.id()
            if key not in seen:
                seen.add(key)
                walk(sub)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def join_cardinality_audit(left, right, lkey: str, rkey: str, label: str):
    """Optimizer-statistics audit: the textbook equi-join cardinality
    estimate |A|·|B| / max(ndv_A, ndv_B) next to the ACTUAL join count —
    the sanity check a planner's statistics pipeline runs to know whether
    its NDV stats predict reality (for FK joins the two should agree
    almost exactly; a big ratio flags stale stats or key skew).  Exact
    NDVs on purpose: the audit is the ground truth the approximate
    ANALYZE path is judged against."""
    from pyspark.sql import functions as F

    a = left.agg(
        F.count(lkey).alias("n_a"), F.count_distinct(lkey).alias("ndv_a")
    )
    b = right.agg(
        F.count(rkey).alias("n_b"), F.count_distinct(rkey).alias("ndv_b")
    )
    actual = (
        left.join(right, left[lkey] == right[rkey])
        .agg(F.count("*").alias("actual"))
    )
    est = F.floor(
        F.col("n_a").cast("double") * F.col("n_b")
        / F.greatest("ndv_a", "ndv_b")
    ).cast("long")
    return (
        a.crossJoin(b).crossJoin(actual)
        .select(
            F.lit(label).alias("join_name"),
            "n_a", "ndv_a", "n_b", "ndv_b",
            est.alias("est_rows"),
            "actual",
            F.round(F.col("actual") / est.cast("double"), 6).alias("actual_over_est"),
        )
    )
