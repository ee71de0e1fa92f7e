"""Plan assembly: compiled schema × DataFrame -> violations DataFrame.

This is the distributed analogue of the reference's four-stage dataflow
(``/root/reference/src/okay/validator.py:7-11``): compile -> index ->
rule-scan -> missing/extra reconciliation. The per-document recursive dict
walk (``index.py:11-51``) is replaced wholesale by columnar expressions:

- dotted paths    -> struct-field access (Catalyst prunes nested schemas);
- ``[]`` paths    -> ``transform(arr, (x, i) -> ...)`` so element checks stay
                     inside whole-stage codegen and instance paths carry the
                     element index (``spans[3].kind``, ``index.py:45``);
- missing fields  -> static schema diff + null-parent predicates
                     (``validator.py:70-93``);
- extra fields    -> static schema diff for structs, ``map_keys`` set-minus
                     for open MapType segments (``validator.py:60-68``,
                     ``index.py:24-25``).

The whole battery is **shuffle-free and embarrassingly parallel**: one
projection per row producing an ``array<violation>``, then a single
``explode``. No Python runs per row except for ``custom`` rules, which are
evaluated Arrow-batched in :mod:`okay_spark.compat`.

okay's dynamic typing vs Spark's static columns (documented mapping,
SURVEY.md §1.5): a null struct/array child counts as *present with None*
(``null_value`` path), "key absent" arises only from columns statically
absent from the Spark schema or from MapType-modelled open segments;
heterogeneous-type errors resolve at compile time against the column type.

Divergence from the reference (deliberate): okay *crashes* with a
``RuntimeError: dictionary changed size during iteration`` when a required
child sits under a null list element (defaultdict mutation in
``validator.py:83``, verified by execution); we implement the intended
semantics: ``null_value`` for the element's rules plus ``missing_field`` for
its required children unless the element field is a nullable object.
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from .paths import ELEM, ROOT, ROW_KEY, Name, Step, child_key, parent_and_child, parse_path
from .rules import (
    _STRING_TYPES,
    empty_violations,
    lower_instance,
    make_violation,
)
from .schema import CompiledSchema, FieldSpec, compile_cached

# seq = phase * 1e9 + field_index * 1e3 + rule_index: reproduces okay's
# deterministic message ordering (rule scan -> missing -> extra;
# ``validator.py:8-11``) when violations are sorted by (seq, path).
_PHASE = 1_000_000_000


def _seq(phase: int, field_idx: int, rule_idx: int = 0) -> int:
    return phase * _PHASE + field_idx * 1_000 + rule_idx


def _quoted(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def _resolves(dtype: DataType, steps: list[Step]) -> bool:
    """Static check: does this path have any instances under this Spark type?

    Mirrors the reference's index pruning: paths through non-dict/non-list
    values simply have no entries (``index.py:30-35``)."""
    if not steps:
        return True
    step, rest = steps[0], steps[1:]
    if step is ELEM:
        return isinstance(dtype, ArrayType) and _resolves(dtype.elementType, rest)
    assert isinstance(step, Name)
    if isinstance(dtype, StructType):
        return step.name in dtype.names and _resolves(dtype[step.name].dataType, rest)
    if isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
        return _resolves(dtype.valueType, rest)
    return False


InstanceFn = Callable[[Column, DataType, Column, bool], Column]


def _descend(value: Column, dtype: DataType, path: Column, steps: list[Step], fn: InstanceFn) -> Column:
    """Apply ``fn`` to every instance of ``steps`` under ``value``.

    Existence guards reproduce the index walk: a null parent contributes no
    child instances; a missing map key contributes none. Returns a non-null
    ``array<violation>`` column."""
    if not steps:
        return fn(value, dtype, path, False)
    step, rest = steps[0], steps[1:]
    if step is ELEM:
        assert isinstance(dtype, ArrayType)
        elem_dt = dtype.elementType
        inner = F.transform(
            value,
            lambda x, i: _descend(
                x, elem_dt, F.concat(path, F.lit("["), i.cast("string"), F.lit("]")), rest, fn
            ),
        )
        return F.coalesce(F.flatten(inner), empty_violations())
    assert isinstance(step, Name)
    child_path = F.concat(path, F.lit("."), F.lit(step.name))
    if isinstance(dtype, StructType):
        child_dt = dtype[step.name].dataType
        inner = _descend(value[step.name], child_dt, child_path, rest, fn)
        return F.when(value.isNotNull(), inner).otherwise(empty_violations())
    assert isinstance(dtype, MapType)
    child = F.try_element_at(value, F.lit(step.name))
    exists = F.coalesce(F.map_contains_key(value, F.lit(step.name)), F.lit(False))
    inner = _descend(child, dtype.valueType, child_path, rest, fn)
    return F.when(exists, inner).otherwise(empty_violations())


def _map_instances(df_schema: StructType, steps: list[Step], fn: InstanceFn) -> Column | None:
    if not _resolves(df_schema, steps):
        return None
    if not steps:
        root = F.struct(*[_quoted(c).alias(c) for c in df_schema.names])
        return fn(root, df_schema, F.lit(ROOT), True)
    step = steps[0]
    assert isinstance(step, Name)
    child_dt = df_schema[step.name].dataType
    return _descend(_quoted(step.name), child_dt, F.lit(step.name), steps[1:], fn)


# ---------------------------------------------------------------------------
# Phase 1: rule scan
# ---------------------------------------------------------------------------


def _rule_arrays(df_schema: StructType, compiled: CompiledSchema) -> list[Column]:
    arrays: list[Column] = []
    for fidx, (path, spec) in enumerate(compiled.fields.items()):
        if not spec.rules:
            continue
        rules = [(_seq(0, fidx, ridx), rule) for ridx, rule in enumerate(spec.rules)]

        def fn(value, dtype, pcol, never_null, _rules=rules):
            return lower_instance(value, dtype, pcol, _rules, value_never_null=never_null)

        arr = _map_instances(df_schema, parse_path(path), fn)
        if arr is not None:
            arrays.append(arr)
    return arrays


# ---------------------------------------------------------------------------
# Phase 2: missing fields (validator.py:70-93)
# ---------------------------------------------------------------------------


def _missing_arrays(df_schema: StructType, compiled: CompiledSchema) -> list[Column]:
    arrays: list[Column] = []
    for fidx, (path, spec) in enumerate(compiled.fields.items()):
        if spec.strictness != "required" or path == ROOT:
            continue
        parent_name, child = parent_and_child(path)
        parent_spec = compiled.fields.get(parent_name, FieldSpec())
        nullable_parent = parent_spec.is_nullable_object()
        key = child_key(child)
        seq = _seq(1, fidx)
        parent_is_root = parent_name == ROOT

        def fn(
            pv,
            pdt,
            pp,
            never_null,
            _child=child,
            _key=key,
            _np=nullable_parent,
            _seq=seq,
            _root=parent_is_root,
        ):
            conds: list[Column] = []
            if not never_null and not _np:
                conds.append(pv.isNull())
            if isinstance(pdt, StructType):
                if _key not in pdt.names:
                    conds.append(F.lit(True) if never_null else pv.isNotNull())
            elif isinstance(pdt, MapType):
                present = F.coalesce(F.map_contains_key(pv, F.lit(_key)), F.lit(False))
                base = F.lit(True) if never_null else pv.isNotNull()
                conds.append(base & ~present)
            if not conds:
                return empty_violations()
            cond = reduce(or_, conds)
            mpath = F.lit(_child) if _root else F.concat(pp, F.lit("."), F.lit(_child))
            viol = make_violation(mpath, "missing_field", None, _seq)
            return F.when(cond, F.array(viol)).otherwise(empty_violations())

        arr = _map_instances(df_schema, parse_path(parent_name), fn)
        if arr is not None:
            arrays.append(arr)
    return arrays


# ---------------------------------------------------------------------------
# Phase 3: extra fields (index.py:24-25, validator.py:60-68)
# ---------------------------------------------------------------------------


def _join_fname(parent: str, key: str) -> str:
    return key if parent == ROOT else f"{parent}.{key}"


def _extra_expr(
    value: Column | None,
    dtype: DataType,
    fname: str,
    path: Column,
    compiled: CompiledSchema,
    seq: int,
) -> Column | None:
    """array<violation> of extra-field reports under one struct/map instance.

    ``value is None`` marks the document root (columns accessed directly).
    Caller guards non-root calls with ``value.isNotNull()``. Only the topmost
    extra path is reported — undeclared subtrees are not walked, matching the
    reference's pruned index walk."""
    parts: list[Column] = []
    if isinstance(dtype, StructType):
        for m in dtype.names:
            if value is None and m == ROW_KEY:
                continue
            child_fname = _join_fname(fname, m)
            child = _quoted(m) if value is None else value[m]
            cpath = F.lit(m) if value is None else F.concat(path, F.lit("."), F.lit(m))
            if child_fname not in compiled.fields:
                parts.append(F.array(make_violation(cpath, "extra_field", None, seq)))
                continue
            sub = _extra_descend(child, dtype[m].dataType, child_fname, cpath, compiled, seq)
            if sub is not None:
                parts.append(sub)
    elif isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
        declared = sorted(
            {
                p[len(fname) + 1 if fname != ROOT else 0 :].split(".", 1)[0].split("[", 1)[0]
                for p in compiled.fields
                if p != ROOT and (fname == ROOT or p.startswith(fname + "."))
            }
        )
        keys = F.map_keys(value)
        extra_keys = (
            F.filter(keys, lambda k: ~k.isin(*declared)) if declared else keys
        )
        parts.append(
            F.transform(
                extra_keys,
                lambda k: make_violation(
                    F.concat(path, F.lit("."), k) if fname != ROOT else k,
                    "extra_field",
                    None,
                    seq,
                ),
            )
        )
        for k in declared:
            child_fname = _join_fname(fname, k)
            if child_fname not in compiled.fields:
                continue
            child = F.try_element_at(value, F.lit(k))
            cpath = F.concat(path, F.lit("."), F.lit(k)) if fname != ROOT else F.lit(k)
            sub = _extra_descend(child, dtype.valueType, child_fname, cpath, compiled, seq)
            if sub is not None:
                parts.append(sub)
    if not parts:
        return None
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def _extra_descend(
    child: Column, dtype: DataType, fname: str, cpath: Column, compiled: CompiledSchema, seq: int
) -> Column | None:
    """Walk a *declared* child looking for extras beneath it."""
    if isinstance(dtype, (StructType, MapType)):
        inner = _extra_expr(child, dtype, fname, cpath, compiled, seq)
        if inner is None:
            return None
        return F.when(child.isNotNull(), inner).otherwise(empty_violations())
    if isinstance(dtype, ArrayType):
        elem_fname = fname + "[]"
        if elem_fname not in compiled.fields:
            return None  # list not declared -> elements never walked (index.py:39-40)
        elem_dt = dtype.elementType

        def per_elem(x, i):
            epath = F.concat(cpath, F.lit("["), i.cast("string"), F.lit("]"))
            sub = _extra_descend(x, elem_dt, elem_fname, epath, compiled, seq)
            return empty_violations() if sub is None else sub

        probe = _extra_descend(F.lit(None).cast(elem_dt), elem_dt, elem_fname, cpath, compiled, seq)
        if probe is None:
            return None
        return F.coalesce(F.flatten(F.transform(child, per_elem)), empty_violations())
    return None


def _extra_arrays(df_schema: StructType, compiled: CompiledSchema) -> list[Column]:
    if compiled.ignore_extra_fields:
        return []
    expr = _extra_expr(None, df_schema, ROOT, F.lit(ROOT), compiled, _seq(2, 0))
    return [expr] if expr is not None else []


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


def violations_array(
    df_schema: StructType, compiled: CompiledSchema, *, include_custom: bool = False
) -> Column:
    """The full battery as ONE array<violation> column expression.

    Native rules only; ``custom`` rules need the DataFrame (Arrow pass) and
    are merged by :func:`validate_dataframe`."""
    arrays = (
        _rule_arrays(df_schema, compiled)
        + _missing_arrays(df_schema, compiled)
        + _extra_arrays(df_schema, compiled)
    )
    if not arrays:
        return empty_violations()
    return F.concat(*arrays) if len(arrays) > 1 else arrays[0]


def _has_custom(compiled: CompiledSchema) -> bool:
    """True when any rule needs the Arrow pass: custom rules, plus string
    rules auto-routed there because their regex uses Python-only dialect
    constructs (see okay_spark.rules.is_arrow_routed)."""
    from .rules import is_arrow_routed

    return any(is_arrow_routed(r) for f in compiled.fields.values() for r in f.rules)


def validate_dataframe(
    df: DataFrame,
    schema,
    *,
    id_cols: Iterable[str] | None = None,
    message_values: dict | None = None,
    include_seq: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """Validate every row of ``df`` against an okay schema.

    ``schema`` is an okay-style schema callable or a pre-compiled
    :class:`CompiledSchema`. Returns a violations DataFrame with columns
    ``(*id_cols, path, rule, expected[, seq])`` — the engine's message model
    (``rule`` = okay message type, ``path`` = instance path with indices,
    ``expected`` = canonical-JSON rule params). ``message_values`` are stamped
    onto every violation as literal columns (``validator.py:12-15``).

    Rows with no violations produce no output rows (use
    :func:`okay_spark.checks.partition_summary` for pass/fail rollups).

    ``strategy='explode'`` (default) lowers array paths through
    ``posexplode_outer`` so the whole battery stays inside whole-stage
    codegen (~5x faster than HOF evaluation); ``strategy='array'`` keeps the
    single-expression higher-order-function plan (one array per row — the
    form :func:`okay_spark.checks.partition_summary`, ``rule_summary`` and
    streaming build on). Identical violation semantics. The validation job
    does not re-validate for its summaries: it rolls them up from this
    function's explode output (see :mod:`okay_spark.state`).

    The root column ``__ok_row`` (``paths.ROW_KEY``) is reserved for the
    job's per-row key: it is never reported as an extra field.
    """
    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    if id_cols is None:
        id_cols = [c for c in df.columns if c == "doc_id"]
    id_cols = list(id_cols)

    if strategy == "auto":
        # Measured across schema shapes (array-heavy, root-heavy, flat): the
        # posexplode whole-stage-codegen plan beats the HOF plan everywhere
        # (2-3x on array-heavy, ~1.4x even with no array rules at all), so
        # 'auto' is simply 'explode'. 'array' remains selectable — the public
        # summary functions and streaming use its per-row violations_array.
        strategy = "explode"
    if strategy == "explode":
        from .plan_exploded import exploded_violations

        exploded = exploded_violations(df, compiled)
        if _has_custom(compiled):
            from .compat import custom_violation_arrays

            from .rules import VIOL_ARRAY_DDL

            extra = F.array().cast(VIOL_ARRAY_DDL)
            for arr in custom_violation_arrays(df.schema, compiled):
                extra = F.concat(extra, arr)
            custom_rows = (
                df.select(*[_quoted(c).alias(c) for c in id_cols], F.explode(extra).alias("_v"))
            )
            exploded = exploded.select(
                *[_quoted(c).alias(c) for c in id_cols], F.col("_v")
            ).unionByName(custom_rows)
        else:
            exploded = exploded.select(*[_quoted(c).alias(c) for c in id_cols], F.col("_v"))
    else:
        viol = violations_array(df.schema, compiled)
        if _has_custom(compiled):
            from .compat import custom_violation_arrays

            for arr in custom_violation_arrays(df.schema, compiled):
                viol = F.concat(viol, arr)

        exploded = df.select(*[_quoted(c).alias(c) for c in id_cols], F.explode(viol).alias("_v"))
    out_cols = [F.col(c) for c in id_cols] + [
        F.col("_v.path").alias("path"),
        F.col("_v.rule").alias("rule"),
        F.col("_v.expected").alias("expected"),
    ]
    if include_seq:
        out_cols.append(F.col("_v.seq").alias("seq"))
    out = exploded.select(*out_cols)
    if message_values:
        for k, v in message_values.items():
            out = out.withColumn(k, F.lit(v))
    return out


def quarantine(
    df: DataFrame,
    schema,
    *,
    id_cols: Iterable[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Sink-side split of a table into (clean, quarantined) by the rule
    battery — the pipeline counterpart of :func:`validate_dataframe`, which
    reports violations but keeps the table whole. The reference stops at
    returning a message list per document (validator.py:30-47); routing
    documents on the outcome is left to the caller there, and at cluster
    scale it must be part of the plan to avoid a second validation pass.

    Returns two DataFrames computed from the SAME shuffle-free violations
    projection:

    - ``clean``: the input rows (original columns) with zero violations;
    - ``quarantined``: ``(*id_cols, n_violations, reasons)`` where
      ``reasons`` is the document's distinct ``path:rule`` strings,
      lexicographically sorted and ';'-joined — a canonical, engine-portable
      digest of WHY the row was quarantined (stable under any partitioning,
      so an exact SQL oracle can replay it).

    Scale shape: the battery is a projection (``violations_array``), so each
    branch is scan -> filter with zero exchanges and zero Python. Writing
    both outputs costs two scans of the source; to pay one scan instead,
    write ``df.withColumn('_status', ...)`` with
    ``partitionBy('_status')`` — the two-frame form exists because most
    callers keep only ``clean`` and route ``quarantined`` to a side sink.
    """
    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    if id_cols is None:
        id_cols = [c for c in df.columns if c == "doc_id"]
    id_cols = list(id_cols)
    va = violations_array(df.schema, compiled)
    clean = df.filter(F.size(va) == 0)
    quarantined = df.select(
        *[F.col(c) for c in id_cols],
        F.size(va).cast("bigint").alias("n_violations"),
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.transform(va, lambda v: F.concat(v["path"], F.lit(":"), v["rule"]))
                )
            ),
            ";",
        ).alias("reasons"),
    ).filter(F.col("n_violations") > 0)
    return clean, quarantined
