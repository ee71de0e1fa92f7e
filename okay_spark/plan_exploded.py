"""The battery's one lowering: compiled schema × Spark schema -> violation checks.

The reference walks each document as a dict (okay's ``validator.py:7-11``:
compile -> index -> rule scan -> missing/extra). Here the walk is resolved
statically against the Spark schema and every check becomes a Column:

- dotted paths    -> struct-field / map-key access with existence guards
                     (Catalyst prunes nested schemas);
- ``[]`` paths    -> either a generated row per element (the *primary
                     chain*, below) or ``transform(arr, (x, i) -> ...)`` so
                     instance paths carry the element index
                     (``spans[3].kind``, ``index.py:45``);
- missing fields  -> static schema diff + null-parent predicates
                     (``validator.py:70-93``);
- extra fields    -> static schema diff for structs, ``map_keys`` set-minus
                     for open MapType segments (``validator.py:60-68``,
                     ``index.py:24-25``).

:func:`_lower` produces, per chain depth, one nullable violation column per
flat check plus one ``array<violation>`` per higher-order-function walk. Two
assemblies consume the same lowering:

- **explode** (:func:`exploded_violations`, behind ``validate_dataframe``):
  one primary chain of nested arrays (the one carrying the most schema
  fields — for the north-rule shape, ``spans[]``) rides the generate
  pipeline, so element checks stay flat expressions instead of lambdas::

      scan -> [per-level check arrays materialized as columns]
           -> posexplode_outer(spans) [-> deeper chain arrays...]
           -> explode(concat(level arrays)) -> filter(not null)

  Document-level checks fire exactly once per document (on the first
  generated row: ``posexplode_outer`` emits at least one row per input, so
  ``_i IS NULL OR _i = 0`` selects exactly one). Fields on other array
  families fall back to the HOF walk, attached at the root level —
  correctness never depends on the routing, only performance does.
- **row** (:func:`row_violations`, behind ``engine.violations_array``): the
  same lowering with an empty chain, all checks concatenated into ONE
  ``array<violation>`` per input row. Quarantine, the per-partition and
  per-rule summaries and streaming need one value per row without a shuffle,
  so they keep this form.

Two sizing rules keep the explode assembly's memory flat at scale:

- each level's checks are materialized as an array column BELOW the next
  generate, so wide source columns (the spans array itself) are never
  required above a Generate and get pruned out of the generated rows —
  otherwise every generated row deep-copies the document's array bytes
  (measured as multi-GB allocation churn at 2M docs);
- per-level arrays are guarded as whole arrays, so non-first generated rows
  concatenate empty arrays instead of building N null slots.

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
from operator import and_, or_
from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from .paths import ELEM, ROOT, ROW_KEY, Name, Step, child_key, parent_and_child, parse_path
from .rules import (
    _STRING_TYPES,
    empty_violations,
    lower_checks,
    lower_instance,
    make_violation,
)
from .schema import CompiledSchema, FieldSpec

# seq = phase * 1e9 + field_index * 1e3 + rule_index: reproduces okay's
# deterministic message ordering (rule scan -> missing -> extra;
# ``validator.py:8-11``) when violations are sorted by (seq, path).
_PHASE = 1_000_000_000


def _seq(phase: int, field_idx: int, rule_idx: int = 0) -> int:
    return phase * _PHASE + field_idx * 1_000 + rule_idx


def _q(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def _join_fname(parent: str, key: str) -> str:
    return key if parent == ROOT else f"{parent}.{key}"


def _declared_keys(compiled: CompiledSchema, fname: str) -> list[str]:
    """Keys the schema declares directly under the (non-root) map field
    ``fname``; every other key of a map instance is an extra field."""
    return sorted(
        {
            p[len(fname) + 1 :].split(".", 1)[0].split("[", 1)[0]
            for p in compiled.fields
            if p.startswith(fname + ".")
        }
    )


# ---------------------------------------------------------------------------
# HOF walk: every instance of a path, as one array<violation>
# ---------------------------------------------------------------------------


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


InstanceFn = Callable[[Column, DataType, Column], Column]


def _descend(value: Column, dtype: DataType, path: Column, steps: list[Step], fn: InstanceFn) -> Column:
    """Apply ``fn`` to every instance of ``steps`` under ``value``.

    Existence guards reproduce the index walk: a null parent contributes no
    child instances; a missing map key contributes none. Returns a non-null
    ``array<violation>`` column."""
    if not steps:
        return fn(value, dtype, path)
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
    """``fn`` over every instance of a non-root path, or None when the path
    has no instances under ``df_schema``."""
    if not _resolves(df_schema, steps):
        return None
    step = steps[0]
    assert isinstance(step, Name)
    child_dt = df_schema[step.name].dataType
    return _descend(_q(step.name), child_dt, F.lit(step.name), steps[1:], fn)


def _extra_expr(
    value: Column,
    dtype: DataType,
    fname: str,
    path: Column,
    compiled: CompiledSchema,
    seq: int,
) -> Column | None:
    """array<violation> of extra-field reports under one non-root struct/map
    instance. Caller guards with ``value.isNotNull()``. Only the topmost
    extra path is reported — undeclared subtrees are not walked, matching the
    reference's pruned index walk."""
    parts: list[Column] = []
    if isinstance(dtype, StructType):
        for m in dtype.names:
            child_fname = _join_fname(fname, m)
            cpath = F.concat(path, F.lit("."), F.lit(m))
            if child_fname not in compiled.fields:
                parts.append(F.array(make_violation(cpath, "extra_field", None, seq)))
                continue
            sub = _extra_descend(value[m], dtype[m].dataType, child_fname, cpath, compiled, seq)
            if sub is not None:
                parts.append(sub)
    elif isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
        declared = _declared_keys(compiled, fname)
        keys = F.map_keys(value)
        extra_keys = (
            F.filter(keys, lambda k: ~k.isin(*declared)) if declared else keys
        )
        parts.append(
            F.transform(
                extra_keys,
                lambda k: make_violation(F.concat(path, F.lit("."), k), "extra_field", None, seq),
            )
        )
        for k in declared:
            child_fname = _join_fname(fname, k)
            if child_fname not in compiled.fields:
                continue
            child = F.try_element_at(value, F.lit(k))
            cpath = F.concat(path, F.lit("."), F.lit(k))
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


# ---------------------------------------------------------------------------
# Flat contexts and the primary chain
# ---------------------------------------------------------------------------


def _decompose(steps) -> tuple[list[tuple[Name, ...]], list[Name]]:
    """Split a step list into array segments and a trailing Name tail.

    ``spans[].kind`` -> ([(spans,)], [kind]); ``m[][]`` -> ([(m,), ()], []).
    Each segment is the Name run leading to one ELEM."""
    segs: list[tuple[Name, ...]] = []
    cur: list[Name] = []
    for st in steps:
        if st is ELEM:
            segs.append(tuple(cur))
            cur = []
        else:
            cur.append(st)
    return segs, cur


class _Ctx:
    """A resolved flat instance context: value/dtype/path/existence guard."""

    __slots__ = ("value", "dtype", "path", "exists", "at_root")

    def __init__(self, value, dtype, path, exists, at_root=False):
        self.value = value
        self.dtype = dtype
        self.path = path
        self.exists = exists
        self.at_root = at_root


def _and_opt(a: Column | None, b: Column | None) -> Column | None:
    if a is None:
        return b
    if b is None:
        return a
    return a & b


def _flat_descend(ctx: _Ctx, names: list[Name]) -> _Ctx | None:
    """Follow Name steps with flat accessors (no HOFs)."""
    value, dtype, path, exists, at_root = (
        ctx.value,
        ctx.dtype,
        ctx.path,
        ctx.exists,
        ctx.at_root,
    )
    for st in names:
        if isinstance(dtype, StructType):
            if st.name not in dtype.names:
                return None
            if at_root:
                child = _q(st.name)
                path = F.lit(st.name)
            else:
                exists = _and_opt(exists, value.isNotNull())
                child = value[st.name]
                path = F.concat(path, F.lit("."), F.lit(st.name))
            dtype = dtype[st.name].dataType
            value, at_root = child, False
        elif isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
            exists = _and_opt(
                exists, F.coalesce(F.map_contains_key(value, F.lit(st.name)), F.lit(False))
            )
            path = F.concat(path, F.lit("."), F.lit(st.name))
            value = F.try_element_at(value, F.lit(st.name))
            dtype = dtype.valueType
            at_root = False
        else:
            return None
    return _Ctx(value, dtype, path, exists, at_root)


def _resolve_chain(df_schema: StructType, segs: list[tuple[Name, ...]]) -> list[DataType] | None:
    """Element dtype at each chain depth, or None if it doesn't resolve."""
    dtype: DataType = df_schema
    out = []
    for seg in segs:
        for st in seg:
            if isinstance(dtype, StructType) and st.name in dtype.names:
                dtype = dtype[st.name].dataType
            elif isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
                dtype = dtype.valueType
            else:
                return None
        if not isinstance(dtype, ArrayType):
            return None
        dtype = dtype.elementType
        out.append(dtype)
    return out


def _pick_primary_chain(
    fields: list[tuple[str, FieldSpec]], df_schema: StructType
) -> list[tuple[Name, ...]]:
    """Greedy: extend the chain one array segment at a time toward the most
    schema fields."""
    decomposed = []
    for path, spec in fields:
        segs, _ = _decompose(parse_path(path))
        if segs and _resolve_chain(df_schema, segs) is not None:
            decomposed.append(tuple(segs))
    chain: list[tuple[Name, ...]] = []
    while True:
        counts: dict[tuple[Name, ...], int] = {}
        depth = len(chain)
        for segs in decomposed:
            if len(segs) > depth and list(segs[:depth]) == chain:
                counts[segs[depth]] = counts.get(segs[depth], 0) + 1
        if not counts:
            return chain
        chain.append(max(counts.items(), key=lambda kv: kv[1])[0])


# ---------------------------------------------------------------------------
# The lowering
# ---------------------------------------------------------------------------


def _lower(
    df_schema: StructType, compiled: CompiledSchema, chain: list[tuple[Name, ...]]
) -> tuple[list[_Ctx], list[tuple[int, Column]], list[tuple[int, Column]]]:
    """Lower the whole battery against ``chain``, the nested arrays whose
    elements get a generated row each (empty: one row per document).

    Returns the chain's array contexts (what each depth explodes), the flat
    checks as ``(depth, violation-or-NULL column)`` and the HOF walks as
    ``(depth, array<violation> column)``. Element columns of depth ``d`` are
    named ``__ok_i{d}``/``__ok_e{d}``."""
    fields = list(compiled.fields.items())
    chain_dtypes = _resolve_chain(df_schema, chain) if chain else []

    # ---- per-level contexts (no DataFrame needed yet) -----------------------
    root_ctx = _Ctx(None, df_schema, F.lit(ROOT), None, at_root=True)
    level_ctx: list[_Ctx] = []
    arr_ctxs: list[_Ctx] = []
    chain_fnames: list[str] = []
    prev = root_ctx
    prev_fname = ROOT
    for d, seg in enumerate(chain, start=1):
        arr_ctx = _flat_descend(prev, list(seg))
        assert arr_ctx is not None
        arr_ctxs.append(arr_ctx)
        i_col, e_col = f"__ok_i{d}", f"__ok_e{d}"
        elem_path = F.concat(arr_ctx.path, F.lit("["), _q(i_col).cast("string"), F.lit("]"))
        ctx = _Ctx(_q(e_col), chain_dtypes[d - 1], elem_path, _q(i_col).isNotNull())
        level_ctx.append(ctx)
        if seg:
            prev_fname = _join_fname(prev_fname, ".".join(n.name for n in seg)) + "[]"
        else:
            prev_fname = prev_fname + "[]"
        chain_fnames.append(prev_fname)
        prev = ctx

    def ctx_for_level(level: int) -> _Ctx:
        return root_ctx if level == 0 else level_ctx[level - 1]

    def route(segs: list[tuple[Name, ...]]) -> int | None:
        if list(chain[: len(segs)]) == list(segs):
            return len(segs)
        return None

    scalar_checks: list[tuple[int, Column]] = []  # (level, viol-or-null col)
    dyn_arrays: list[tuple[int, Column]] = []  # (level, array<viol> col)

    # ---- phase 1: rule scan -------------------------------------------------
    for fidx, (path, spec) in enumerate(fields):
        if not spec.rules:
            continue
        rules = [(_seq(0, fidx, ridx), r) for ridx, r in enumerate(spec.rules)]
        steps = parse_path(path)
        segs, tail = _decompose(steps)
        level = route(segs)
        if level is None or (segs and _resolve_chain(df_schema, segs) is None):

            def fn(value, dtype, pcol, _rules=rules):
                return lower_instance(value, dtype, pcol, _rules)

            arr = _map_instances(df_schema, steps, fn)
            if arr is not None:
                dyn_arrays.append((0, arr))
            continue
        if path == ROOT:
            root_val = F.struct(*[_q(c).alias(c) for c in df_schema.names])
            checks = lower_checks(root_val, df_schema, F.lit(ROOT), rules, value_never_null=True)
            scalar_checks.extend((0, c) for c in checks)
            continue
        ctx = _flat_descend(ctx_for_level(level), tail)
        if ctx is None:
            continue
        value = F.struct(*[_q(c).alias(c) for c in df_schema.names]) if ctx.at_root else ctx.value
        checks = lower_checks(value, ctx.dtype, ctx.path, rules, exists=ctx.exists)
        scalar_checks.extend((level, c) for c in checks)

    # ---- phase 2: missing fields ----------------------------------------------
    for fidx, (path, spec) in enumerate(fields):
        if spec.strictness != "required" or path == ROOT:
            continue
        parent_name, child = parent_and_child(path)
        parent_spec = compiled.fields.get(parent_name, FieldSpec())
        nullable_parent = parent_spec.is_nullable_object()
        key = child_key(child)
        seq = _seq(1, fidx)
        psteps = parse_path(parent_name)
        segs, tail = _decompose(psteps)
        level = route(segs)
        if level is None or (segs and _resolve_chain(df_schema, segs) is None):

            def fn(pv, pdt, pp, _child=child, _key=key, _np=nullable_parent, _seq=seq):
                col = _missing_cond(pv, pdt, pp, False, _child, _key, _np, _seq, False, None)
                if col is None:
                    return empty_violations()
                return F.filter(F.array(col), lambda v: v.isNotNull())

            arr = _map_instances(df_schema, psteps, fn)
            if arr is not None:
                dyn_arrays.append((0, arr))
            continue
        pctx = _flat_descend(ctx_for_level(level), tail)
        if pctx is None:
            continue
        col = _missing_cond(
            None if pctx.at_root else pctx.value,
            pctx.dtype,
            pctx.path,
            pctx.at_root,
            child,
            key,
            nullable_parent,
            seq,
            parent_name == ROOT,
            pctx.exists,
        )
        if col is not None:
            scalar_checks.append((level, col))

    # ---- phase 3: extra fields ---------------------------------------------------
    if not compiled.ignore_extra_fields:
        _extra_walk(
            compiled,
            None,
            df_schema,
            ROOT,
            F.lit(ROOT),
            None,
            0,
            chain_fnames[0] if chain else None,
            scalar_checks,
            dyn_arrays,
        )
        for d, ctx in enumerate(level_ctx, start=1):
            edt = ctx.dtype
            if not isinstance(edt, (StructType, MapType)):
                continue
            nxt = chain_fnames[d] if d < len(chain_fnames) else None
            _extra_walk(
                compiled,
                ctx.value,
                edt,
                chain_fnames[d - 1],
                ctx.path,
                _and_opt(ctx.exists, ctx.value.isNotNull()),
                d,
                nxt,
                scalar_checks,
                dyn_arrays,
            )
    return arr_ctxs, scalar_checks, dyn_arrays


# ---------------------------------------------------------------------------
# The two assemblies
# ---------------------------------------------------------------------------


def exploded_violations(df: DataFrame, compiled: CompiledSchema) -> DataFrame:
    """Explode assembly: the battery as a generate pipeline; returns a
    DataFrame with the source columns plus ``_v`` (non-null violation struct
    rows)."""
    df_schema = df.schema
    chain = _pick_primary_chain(list(compiled.fields.items()), df_schema)
    arr_ctxs, scalar_checks, dyn_arrays = _lower(df_schema, compiled, chain)
    max_depth = len(chain)

    # Materialize each level's checks as array columns BEFORE the next
    # generate, so wide source columns are never required above a Generate
    # and generated rows stay narrow (ids + small violation arrays).
    cur = df
    level_cols: dict[int, list[str]] = {}
    for d in range(0, max_depth + 1):
        if d > 0:
            cur = cur.select(
                "*", F.posexplode_outer(arr_ctxs[d - 1].value).alias(f"__ok_i{d}", f"__ok_e{d}")
            )
        names: list[str] = []
        checks_d = [c for lvl, c in scalar_checks if lvl == d]
        if checks_d:
            cur = cur.withColumn(f"__ok_v{d}", F.array(*checks_d))
            names.append(f"__ok_v{d}")
        for k, (lvl, arr) in enumerate(dyn_arrays):
            if lvl == d:
                cur = cur.withColumn(f"__ok_w{d}_{k}", arr)
                names.append(f"__ok_w{d}_{k}")
        level_cols[d] = names

    def fire_once_guard(level: int) -> Column | None:
        conds = [
            _q(f"__ok_i{d}").isNull() | (_q(f"__ok_i{d}") == 0)
            for d in range(level + 1, max_depth + 1)
        ]
        return reduce(and_, conds) if conds else None

    parts: list[Column] = []
    for d in range(0, max_depth + 1):
        guard = fire_once_guard(d)
        for name in level_cols[d]:
            col = F.coalesce(_q(name), empty_violations())
            parts.append(
                F.when(guard, col).otherwise(empty_violations()) if guard is not None else col
            )
    if not parts:
        return df.select("*", F.explode(empty_violations()).alias("_v"))
    combined = parts[0]
    for arr in parts[1:]:
        combined = F.concat(combined, arr)
    return cur.select("*", F.explode(combined).alias("_v")).where(F.col("_v").isNotNull())


def row_violations(df_schema: StructType, compiled: CompiledSchema) -> Column:
    """Row assembly: the native battery (no ``custom`` or Arrow-routed rule
    bodies) as ONE non-null ``array<violation>`` Column per input row.

    Each flat check enters as ``array(c)`` or an empty array. One
    ``filter(..., v -> v IS NOT NULL)`` over the concatenated checks gives
    the same array, but made a per-partition summary over 1M F1 documents
    about 40% slower (8.4 s against 6.0 s on local[4]), so there is none."""
    _, scalar_checks, dyn_arrays = _lower(df_schema, compiled, [])
    parts = [
        F.when(c.isNull(), empty_violations()).otherwise(F.array(c)) for _, c in scalar_checks
    ]
    parts += [arr for _, arr in dyn_arrays]
    if not parts:
        return empty_violations()
    return F.concat(*parts) if len(parts) > 1 else parts[0]


# ---------------------------------------------------------------------------
# Missing and extra fields at one flat frame
# ---------------------------------------------------------------------------


def _missing_cond(
    pv, pdt, pp, never_null, child, key, nullable_parent, seq, parent_is_root, exists
) -> Column | None:
    """Single missing_field violation column (or None when impossible)."""
    conds: list[Column] = []
    if not never_null and not nullable_parent and pv is not None:
        conds.append(pv.isNull())
    if isinstance(pdt, StructType):
        if key not in pdt.names:
            conds.append(F.lit(True) if (never_null or pv is None) else pv.isNotNull())
    elif isinstance(pdt, MapType):
        present = F.coalesce(F.map_contains_key(pv, F.lit(key)), F.lit(False))
        base = F.lit(True) if (never_null or pv is None) else pv.isNotNull()
        conds.append(base & ~present)
    if not conds:
        return None
    cond = reduce(or_, conds)
    if exists is not None:
        cond = exists & cond
    mpath = F.lit(child) if parent_is_root else F.concat(pp, F.lit("."), F.lit(child))
    return F.when(cond, make_violation(mpath, "missing_field", None, seq))


def _extra_walk(
    compiled,
    value,
    dtype,
    fname,
    path,
    exists,
    level,
    next_chain_fname,
    scalar_checks,
    dyn_arrays,
) -> None:
    """Flat extra-field enumeration at one frame level, deferring the primary
    chain's next array to its own level and falling back to the HOF walker
    for off-chain subtrees. Appends (level, col) / (level, array) entries.
    ``value is None`` marks the document root (a struct; maps are never at
    the root)."""
    seq = _seq(2, 0)
    at_root = value is None
    if isinstance(dtype, StructType):
        for m in dtype.names:
            if at_root and m == ROW_KEY:
                continue
            child_fname = _join_fname(fname, m)
            child = _q(m) if at_root else value[m]
            cpath = F.lit(m) if at_root else F.concat(path, F.lit("."), F.lit(m))
            present = exists if at_root else _and_opt(exists, value.isNotNull())
            if child_fname not in compiled.fields:
                viol = make_violation(cpath, "extra_field", None, seq)
                col = viol if present is None else F.when(present, viol)
                scalar_checks.append((level, col))
                continue
            cdt = dtype[m].dataType
            if isinstance(cdt, (StructType, MapType)):
                _extra_walk(
                    compiled,
                    child,
                    cdt,
                    child_fname,
                    cpath,
                    _and_opt(present, child.isNotNull()),
                    level,
                    next_chain_fname,
                    scalar_checks,
                    dyn_arrays,
                )
            elif isinstance(cdt, ArrayType):
                elem_fname = child_fname + "[]"
                if elem_fname not in compiled.fields:
                    continue  # undeclared lists are never walked (index.py:39-40)
                if elem_fname == next_chain_fname:
                    continue  # handled at the next chain level
                # _extra_descend expects the ARRAY's own fname (it appends
                # "[]" itself) — passing elem_fname here made it probe
                # "spans[][]" and silently skip off-chain element extras
                sub = _extra_descend(child, cdt, child_fname, cpath, compiled, seq)
                if sub is not None:
                    arr = (
                        sub
                        if present is None
                        else F.when(present, sub).otherwise(empty_violations())
                    )
                    dyn_arrays.append((level, arr))
    elif isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
        declared = _declared_keys(compiled, fname)
        keys = F.map_keys(value)
        extra_keys = F.filter(keys, lambda k: ~k.isin(*declared)) if declared else keys
        arr = F.coalesce(
            F.transform(
                extra_keys,
                lambda k: make_violation(F.concat(path, F.lit("."), k), "extra_field", None, seq),
            ),
            empty_violations(),
        )
        if exists is not None:
            arr = F.when(exists, arr).otherwise(empty_violations())
        dyn_arrays.append((level, arr))
        for k in declared:
            child_fname = _join_fname(fname, k)
            if child_fname not in compiled.fields:
                continue
            child = F.try_element_at(value, F.lit(k))
            cpath = F.concat(path, F.lit("."), F.lit(k))
            cdt = dtype.valueType
            present = _and_opt(exists, value.isNotNull())
            if isinstance(cdt, (StructType, MapType)):
                _extra_walk(
                    compiled,
                    child,
                    cdt,
                    child_fname,
                    cpath,
                    _and_opt(present, child.isNotNull()),
                    level,
                    next_chain_fname,
                    scalar_checks,
                    dyn_arrays,
                )
            elif isinstance(cdt, ArrayType):
                elem_fname = child_fname + "[]"
                if elem_fname in compiled.fields and elem_fname != next_chain_fname:
                    sub = _extra_descend(child, cdt, child_fname, cpath, compiled, seq)
                    if sub is not None:
                        arr2 = (
                            sub
                            if present is None
                            else F.when(present, sub).otherwise(empty_violations())
                        )
                        dyn_arrays.append((level, arr2))
