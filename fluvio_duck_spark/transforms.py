"""SmartModule transform chains as DataFrame transformations.

In the reference, ``--transforms-file`` (YAML), ``--transform`` (inline
JSON), or ``--smartmodule NAME`` each become an ordered list of
``SmartModuleInvocation``s executed as WASM *on the Fluvio SPU* before
records reach the scan (reference src/consume.rs:645-673, :713-741;
spec shape examples/short.yaml:1-29).  We do not run WASM: each transform
spec is interpreted into DataFrame operations over the record log
(columns ``offset, timestamp, partition, value``), applied before the row
budget — the same point in the pipeline where the SPU applies them.

Supported:

* ``infinyon/jolt@…`` with a jolt ``spec`` — the only module the reference's
  examples exercise.  We implement the literal subset those examples use
  (SURVEY §7 "genuinely hard bits"): ``shift`` with a nested input-path tree
  whose string leaves name output keys, and ``default`` for top-level
  missing-key fills.  The record's ``value`` is rewritten to the shifted
  JSON object, all inside Catalyst expressions — no per-record Python:
  each op parses its input once (``mappings.extract_paths``: one pruned
  ``from_json``, or ``get_json_object`` for a single path) and writes
  ``to_json(struct(...))``.
* built-in modules covering fluvio's five standard SmartModule kinds:
  ``sql-filter`` (filter), ``sql-map`` / jolt (map), ``sql-filter-map``
  (filter-map: rewrite-or-drop in one pass), ``sql-array-map``
  (array-map: one record per JSON-array element), and ``sum-aggregate``
  (aggregate fold) — the reference ships any of these opaquely as
  ``SmartModuleKind::Generic`` (src/consume.rs:713-726), the kind
  semantics living in the module.
* registered Python smartmodules — the extensibility analogue of named
  WASM modules from the hub: ``register_smartmodule(name, fn)`` where
  ``fn(df, params) -> df`` (filter/map kinds), or
  ``fn(df, params, accumulator) -> df`` for aggregate kinds used with
  ``--aggregate-initial`` (reference SmartModuleContextData::Aggregate,
  src/consume.rs:687-695).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluvio_duck_spark.mappings import extract_paths
from fluvio_duck_spark.options import ConsumeOptions

TransformFn = Callable[..., DataFrame]


@dataclass
class TransformSpec:
    """One entry of a TransformationConfig: ``{uses: NAME, with: PARAMS}``."""

    uses: str
    params: dict = field(default_factory=dict)
    aggregate_initial: str | None = None


class TransformError(ValueError):
    pass


_REGISTRY: dict[str, TransformFn] = {}


def register_smartmodule(name: str, fn: TransformFn) -> None:
    """Register a named transform, the analogue of a hub smartmodule
    (``SmartModuleInvocationWasm::Predefined``, reference
    src/consume.rs:728-734)."""
    _REGISTRY[name] = fn


def _jolt_leaves(spec_tree: dict, prefix: tuple[str, ...] = ()) -> list[tuple[str, str]]:
    """Walk a jolt-shift spec tree → [(input.dot.path, output_name)]."""
    out: list[tuple[str, str]] = []
    for key, val in spec_tree.items():
        path = prefix + (key,)
        if isinstance(val, dict):
            out.extend(_jolt_leaves(val, path))
        elif isinstance(val, str):
            out.append((".".join(path), val))
        else:
            raise TransformError(f"unsupported jolt shift leaf at {'.'.join(path)}: {val!r}")
    return out


def jolt_transform(df: DataFrame, params: dict) -> DataFrame:
    """Interpret a jolt spec (list of operations) against the ``value``
    JSON payload, rewriting ``value`` in place."""
    spec = params.get("spec")
    if isinstance(spec, str):
        spec = json.loads(spec)
    if not isinstance(spec, list):
        raise TransformError("jolt `spec` must be a list of operations")

    for op in spec:
        kind = op.get("operation")
        op_spec = op.get("spec", {})
        if kind == "shift":
            parsed, fields = extract_paths(df, [
                ("$." + in_path, out_name, None)
                for in_path, out_name in _jolt_leaves(op_spec)
            ])
            value = F.to_json(F.struct(*fields))
        elif kind == "default":
            # top-level fills: keep existing value for key, else the default
            parsed, raws = extract_paths(
                df, [("$." + key, None, None) for key in op_spec]
            )
            value = F.to_json(F.struct(*[
                F.coalesce(raw, F.lit(json.dumps(default))).alias(key)
                for raw, (key, default) in zip(raws, op_spec.items())
            ]))
        else:
            raise TransformError(f"unsupported jolt operation: {kind!r}")
        df = parsed.withColumn("value", value)
    return df


def sql_filter_transform(df: DataFrame, params: dict) -> DataFrame:
    """Built-in filter-kind smartmodule: ``-e where=<sql predicate over
    offset/timestamp/value>`` — the DataFrame analogue of a WASM filter."""
    predicate = params.get("where")
    if not predicate:
        raise TransformError("sql-filter requires -e where=<predicate>")
    return df.filter(predicate)


def sql_map_transform(df: DataFrame, params: dict) -> DataFrame:
    """Built-in map-kind smartmodule: ``-e value=<sql expr>`` rewrites the
    record payload."""
    expr = params.get("value")
    if not expr:
        raise TransformError("sql-map requires -e value=<expr>")
    return df.withColumn("value", F.expr(expr).cast("string"))


def sql_filter_map_transform(df: DataFrame, params: dict) -> DataFrame:
    """Built-in filter-map-kind smartmodule: ``-e value=<sql expr>`` —
    rewrite the payload to the expression's value when it is non-NULL and
    DROP the record when it is NULL.  This is the ``Option<Record>``
    contract of fluvio's standard filter-map kind (one WASM call that
    both transforms and decides survival — e.g. "parse the payload, keep
    only records that parse, emit the parsed subfield"); the reference
    ships any such module opaquely as ``SmartModuleKind::Generic``
    (src/consume.rs:713-726), the kind behavior living in the module.
    Filter and map composed as two links CANNOT express this when the
    drop decision is "did the rewrite produce anything", which is why it
    is a distinct kind."""
    expr = params.get("value")
    if not expr:
        raise TransformError("sql-filter-map requires -e value=<expr>")
    return (
        df.withColumn("value", F.expr(expr).cast("string"))
        .filter(F.col("value").isNotNull())
    )


#: array-map's ``path`` must be a literal dot path — it is spliced into a
#: get_json_object path template, so reject anything expression-shaped.
_ARRAY_MAP_PATH = re.compile(r"\$(\.\w+)*\Z")

#: Column name for the array-map element-sequence tie-breaker (see
#: array_map_transform); read by the consume row-budget paths, dropped by
#: the final column projection.
ELEM_SEQ_COL = "__elem_seq"


def array_map_transform(df: DataFrame, params: dict) -> DataFrame:
    """Built-in array-map-kind smartmodule: a record whose payload (or
    ``-e path=$.field`` sub-node) is a JSON array becomes ONE RECORD PER
    ELEMENT — fluvio's standard array-map kind (``fn(record) ->
    Vec<Record>``; shipped as ``SmartModuleKind::Generic`` by the
    reference, src/consume.rs:713-726).  Offset, timestamp, and
    partition are inherited from the parent record, matching fluvio's
    output records which share the input record's log position; element
    order is preserved within each record.

    Element rendering follows ``get_json_object``'s string contract
    (the engine literally extracts ``path[i]`` per element): strings
    unquoted, numbers as Java double/long rendering, booleans
    ``true``/``false``, nested objects/arrays compact, a JSON ``null``
    element as the text ``null``.  A missing path, non-array node,
    malformed payload, or EMPTY array yields no output records — the
    WASM analogue returned an empty Vec.

    Scale: pure Catalyst (json_array_length + explode over a sequence +
    one dynamic-path extraction); stateless per record, so it is safe
    under granule chunking and in micro-batches — unlike the aggregate
    fold, no task-boundary pinning is required.  Composition caveat: the
    output records DUPLICATE the parent offset, so an aggregate fold
    placed downstream folds over tied offsets in ambiguous order —
    compose folds upstream of an array-map (the connector translation
    refuses to push that composition for the same reason)."""
    path = params.get("path", "$")
    if not _ARRAY_MAP_PATH.match(path):
        raise TransformError(
            f"sql-array-map path must be a literal $.dot.path, got {path!r}"
        )
    arr = (
        F.col("value") if path == "$"
        else F.get_json_object(F.col("value"), path)
    )
    n = F.json_array_length(arr)
    idx = "__arraymap_idx"
    out = df.withColumn(
        idx,
        F.explode(
            F.when(n > 0, F.sequence(F.lit(0), n - F.lit(1)))
            .otherwise(F.array().cast("array<int>"))
        ),
    )
    elem = F.expr(f"get_json_object(value, concat('{path}[', {idx}, ']'))")
    # Stable intra-record ordering receipt: fan-out duplicates the parent
    # offset, so any downstream "first N records" budget that orders by
    # offset alone is tie-ambiguous when the budget bisects one parent's
    # element group — which element survives could differ between plan
    # evaluations.  Carry a lexicographically ordered element-sequence
    # column (zero-padded, dot-joined per fan-out level so CHAINED
    # array-maps stay totally ordered); the consume budget paths use it
    # as the offset tie-breaker and the final projection drops it.
    seq = F.lpad(F.col(idx).cast("string"), 9, "0")
    if ELEM_SEQ_COL in out.columns:
        seq = F.concat(F.col(ELEM_SEQ_COL), F.lit("."), seq)
    out = out.withColumn(ELEM_SEQ_COL, seq)
    return out.withColumn("value", elem).drop(idx)


def aggregate_sum_transform(df: DataFrame, params: dict, accumulator: str = "0") -> DataFrame:
    """Built-in aggregate-kind smartmodule (A1): sequential fold over the
    record log in offset order — ``acc := acc + payload[field]`` seeded by
    ``--aggregate-initial`` — rewriting each record's value with the
    accumulator so far, exactly how a WASM aggregate emits per record.

    A sequential fold is inherently serial, so the default uses a global
    ordered window (single-partition shuffle) — faithful to the reference,
    which folds on one SPU partition.  ``-e partitioned=true`` folds per
    ``partition`` column instead — the reference's ACTUAL per-SPU
    semantics under ``-A`` (each SPU folds its own log independently,
    src/consume.rs:687-695), and the form that scales: the shuffle is
    keyed by partition, so a 1000-partition topic folds on 1000 tasks
    instead of one.  For unbounded logs use
    streaming.stateful.aggregate_fold_stream.

    Scale guard (r9 verdict #3): the global default SERIALIZES the whole
    log through one task.  That is the documented reference behavior for
    a single pinned SPU partition, but on a multi-partition log it is a
    silent scale cliff — so when the frame still carries a ``partition``
    column (i.e. the caller did not pin one and could fold per-partition
    instead) and neither ``-e partitioned=true`` nor the explicit
    acknowledgement ``-e global=true`` was given, a ``UserWarning`` names
    the single-task window and both ways to resolve it."""
    import warnings

    from pyspark.sql import Window

    field = params.get("field", "k")
    init = int(accumulator or "0")
    _flag = lambda key: str(params.get(key, "")).lower() in ("true", "1", "yes")
    partitioned = _flag("partitioned")
    if not partitioned and not _flag("global") and "partition" in df.columns:
        warnings.warn(
            "sum-aggregate folds the ENTIRE log through one task "
            "(an empty window partitioning with a global order) — a scale "
            "cliff on multi-partition topics.  Pass -e partitioned=true for the "
            "per-SPU fold (reference semantics under -A, and the form that "
            "scales), or -e global=true to acknowledge the single-task "
            "global fold.",
            UserWarning,
            stacklevel=2,
        )
    base = (
        Window.partitionBy("partition") if partitioned else Window.partitionBy()
    )
    w = base.orderBy("offset").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = F.lit(init) + F.sum(
        F.get_json_object(F.col("value"), f"$.{field}").try_cast("long")
    ).over(w)
    return df.withColumn("value", running.cast("string"))


register_smartmodule("infinyon/jolt@0.1.0", jolt_transform)
register_smartmodule("sum-aggregate", aggregate_sum_transform)
register_smartmodule("jolt", jolt_transform)
register_smartmodule("sql-filter", sql_filter_transform)
register_smartmodule("sql-map", sql_map_transform)
register_smartmodule("sql-filter-map", sql_filter_map_transform)
register_smartmodule("sql-array-map", array_map_transform)


def _specs_from_config(config: dict | list) -> list[TransformSpec]:
    transforms = config.get("transforms", []) if isinstance(config, dict) else config
    specs = []
    for t in transforms:
        if "uses" not in t:
            raise TransformError(f"transform entry missing `uses`: {t!r}")
        specs.append(TransformSpec(
            uses=t["uses"],
            params=dict(t.get("with", {}) or {}),
            # extension beyond the reference's YAML schema: a dict link may
            # carry the fold seed inline (the --aggregate-initial flag only
            # exists on the --smartmodule front end) — dropping it here
            # would silently seed the fold with 0
            aggregate_initial=t.get("aggregate_initial"),
        ))
    return specs


def specs_from_links(links) -> list[TransformSpec]:
    """Normalize chain links — dicts (``{uses, with, aggregate_initial?}``)
    or TransformSpec — to TransformSpec, PRESERVING ``aggregate_initial``.
    This is the safe conversion for re-running a
    ``split_translatable_prefix`` tail engine-side: hand-rolled
    ``TransformSpec(uses=t["uses"], params=dict(t["with"]))`` conversions
    silently drop a dict link's fold seed."""
    out: list[TransformSpec] = []
    for t in links:
        if isinstance(t, TransformSpec):
            out.append(t)
        else:
            out.extend(_specs_from_config([t]))
    return out


def load_transform_chain(opts: ConsumeOptions) -> list[TransformSpec]:
    """Build the ordered invocation list exactly like ``generate_config``
    (reference src/consume.rs:650-673): --smartmodule wins, then inline
    --transform JSON strings, then --transforms-file YAML."""
    if opts.smartmodule is not None or opts.smartmodule_path is not None:
        name = opts.smartmodule or str(opts.smartmodule_path)
        specs = [
            TransformSpec(
                uses=name,
                params=dict(opts.params),
                aggregate_initial=opts.aggregate_initial,
            )
        ]
    elif opts.transform:
        specs = _specs_from_config([json.loads(t) for t in opts.transform])
    elif opts.transforms_file:
        import yaml

        with open(opts.transforms_file) as fh:
            config = yaml.safe_load(fh)
        specs = _specs_from_config(config)
    else:
        return []
    if not opts.all_partitions:
        # a -p N consume pins ONE partition, so the per-partition fold and
        # the global fold are the same computation over the remaining frame
        # — default the fold to the partition-keyed window (better plan,
        # and the multi-partition scale-cliff warning below does not apply
        # to a pinned selection)
        for s in specs:
            if s.uses == "sum-aggregate" and not (
                "partitioned" in s.params or "global" in s.params
            ):
                s.params = {**s.params, "partitioned": "true"}
    return specs


def apply_transform_chain(df: DataFrame, chain: list[TransformSpec]) -> DataFrame:
    for spec in chain:
        fn = _REGISTRY.get(spec.uses)
        if fn is None and spec.uses.endswith(".wasm"):
            # the one reference capability this rebuild rejects
            # (reference src/consume.rs:535-560 loads arbitrary user
            # .wasm): executing it requires a wasm runtime this
            # environment does not ship.  The contract (CONNECTOR.md
            # §wasm) is: raise here with the two supported escape
            # hatches rather than silently skipping the transform.
            try:
                import wasmtime  # noqa: F401 — gate, not a dependency
            except ImportError:
                raise TransformError(
                    f"cannot execute {spec.uses!r}: arbitrary .wasm "
                    "SmartModules need the optional 'wasmtime' runtime, "
                    "which is not installed.  Either (a) re-express the "
                    "module as a named transform via "
                    "fluvio_duck_spark.transforms.register_smartmodule "
                    "(all five standard kinds are built in), or (b) "
                    "install wasmtime to enable the Arrow-batch wasm "
                    "seam (CONNECTOR.md §wasm)"
                ) from None
            raise TransformError(
                f"wasmtime is importable but the wasm execution seam is "
                f"not wired for {spec.uses!r}; see CONNECTOR.md §wasm "
                "for the invocation contract a runtime must implement"
            )
        if fn is None:
            raise TransformError(
                f"unknown smartmodule {spec.uses!r}; register it with "
                "fluvio_duck_spark.transforms.register_smartmodule"
            )
        if spec.aggregate_initial is not None:
            df = fn(df, spec.params, spec.aggregate_initial)
        else:
            df = fn(df, spec.params)
    return df
