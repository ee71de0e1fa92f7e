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

The lowering has one way of doing each thing:

- one name step (:func:`_child_type`, :func:`_child`) for a struct member or
  a string-keyed map key, used by every walk;
- one way to turn nullable checks into an ``array<violation>``
  (:func:`_checks_array`): the row form's result and every HOF body;
- one extra-field walker (:func:`_extra_walk`): flat at each frame, with a
  fresh frame per element (inside a ``transform``) under declared arrays off
  the primary chain.

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
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from .paths import ELEM, ROOT, ROW_KEY, Name, Step, child_key, parent_and_child, parse_path
from .rules import _STRING_TYPES, empty_violations, lower_checks, make_violation
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


def _checks_array(checks: Sequence[Column], arrays: Sequence[Column] = ()) -> Column:
    """Nullable violation checks plus ``array<violation>`` parts as ONE
    non-null ``array<violation>``: the per-row form's result and the body of
    every higher-order-function walk.

    Each check enters as ``array(c)`` or an empty array. One
    ``filter(..., v -> v IS NOT NULL)`` over ``array(checks)`` gives the same
    array but is slower. A per-partition summary over 1M F1 documents on
    local[4] took 8.4 s against 6.0 s with ``filter`` for the whole row, and
    a median 6.9 s against 4.9 s with ``filter`` left only in the HOF
    bodies."""
    parts = [F.when(c.isNull(), empty_violations()).otherwise(F.array(c)) for c in checks]
    parts += list(arrays)
    if not parts:
        return empty_violations()
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def _elem_path(path: Column, i: Column) -> Column:
    return F.concat(path, F.lit("["), i.cast("string"), F.lit("]"))


# ---------------------------------------------------------------------------
# The name step: one struct member or string-keyed map key
# ---------------------------------------------------------------------------


def _child_type(dtype: DataType, name: str) -> DataType | None:
    """Type of the child ``name`` under a struct or a string-keyed map, or
    None when the name has no instances there. Mirrors the reference's index
    pruning: paths through non-dict values have no entries
    (``index.py:30-35``)."""
    if isinstance(dtype, StructType):
        return dtype[name].dataType if name in dtype.names else None
    if isinstance(dtype, MapType) and isinstance(dtype.keyType, _STRING_TYPES):
        return dtype.valueType
    return None


def _child(
    value: Column | None, dtype: DataType, path: Column | None, name: str
) -> tuple[Column, Column, Column | None]:
    """``(value, path, present)`` of a child that :func:`_child_type`
    resolved. ``value`` None is the document root, whose children are
    top-level columns and always present. A struct member is present when its
    parent is not null, a map key when the map holds it."""
    if value is None:
        return _q(name), F.lit(name), None
    cpath = F.concat(path, F.lit("."), F.lit(name))
    if isinstance(dtype, StructType):
        return value[name], cpath, value.isNotNull()
    key = F.lit(name)
    present = F.coalesce(F.map_contains_key(value, key), F.lit(False))
    return F.try_element_at(value, key), cpath, present


# ---------------------------------------------------------------------------
# HOF walk: every instance of a path, as one array<violation>
# ---------------------------------------------------------------------------


def _resolves(dtype: DataType, steps: list[Step]) -> bool:
    """Static check: does this path have any instances under this Spark type?"""
    if not steps:
        return True
    step, rest = steps[0], steps[1:]
    if step is ELEM:
        return isinstance(dtype, ArrayType) and _resolves(dtype.elementType, rest)
    assert isinstance(step, Name)
    child_dt = _child_type(dtype, step.name)
    return child_dt is not None and _resolves(child_dt, rest)


InstanceFn = Callable[[Column, DataType, Column], Column]


def _descend(
    value: Column | None, dtype: DataType, path: Column | None, steps: list[Step], fn: InstanceFn
) -> Column:
    """Apply ``fn`` to every instance of ``steps`` under ``value`` (None: the
    document root).

    Existence guards reproduce the index walk: a null parent contributes no
    child instances; a missing map key contributes none. Returns a non-null
    ``array<violation>`` column."""
    if not steps:
        return fn(value, dtype, path)
    step, rest = steps[0], steps[1:]
    if step is ELEM:
        assert isinstance(dtype, ArrayType)
        elem_dt = dtype.elementType
        inner = F.transform(value, lambda x, i: _descend(x, elem_dt, _elem_path(path, i), rest, fn))
        return F.coalesce(F.flatten(inner), empty_violations())
    assert isinstance(step, Name)
    child, cpath, present = _child(value, dtype, path, step.name)
    inner = _descend(child, _child_type(dtype, step.name), cpath, rest, fn)
    return inner if present is None else F.when(present, inner).otherwise(empty_violations())


def _map_instances(df_schema: StructType, steps: list[Step], fn: InstanceFn) -> Column | None:
    """``fn`` over every instance of a non-root path, or None when the path
    has no instances under ``df_schema``."""
    if not _resolves(df_schema, steps):
        return None
    return _descend(None, df_schema, None, steps, fn)


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
    """A resolved flat instance context: value/dtype/path/existence guard.
    ``value`` None is the document root."""

    __slots__ = ("value", "dtype", "path", "exists")

    def __init__(self, value, dtype, path, exists):
        self.value = value
        self.dtype = dtype
        self.path = path
        self.exists = exists


def _and_opt(a: Column | None, b: Column | None) -> Column | None:
    if a is None:
        return b
    if b is None:
        return a
    return a & b


def _flat_descend(ctx: _Ctx, names: list[Name]) -> _Ctx | None:
    """Follow Name steps with flat accessors (no HOFs)."""
    value, dtype, path, exists = ctx.value, ctx.dtype, ctx.path, ctx.exists
    for st in names:
        child_dt = _child_type(dtype, st.name)
        if child_dt is None:
            return None
        value, path, present = _child(value, dtype, path, st.name)
        exists = _and_opt(exists, present)
        dtype = child_dt
    return _Ctx(value, dtype, path, exists)


def _resolve_chain(df_schema: StructType, segs: list[tuple[Name, ...]]) -> list[DataType] | None:
    """Element dtype at each chain depth, or None if it doesn't resolve."""
    dtype: DataType | None = df_schema
    out = []
    for seg in segs:
        for st in seg:
            dtype = _child_type(dtype, st.name)
            if dtype is None:
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
    chain_dtypes = _resolve_chain(df_schema, chain)

    # ---- per-level contexts (no DataFrame needed yet) -----------------------
    root_ctx = _Ctx(None, df_schema, None, None)
    level_ctx: list[_Ctx] = []
    arr_ctxs: list[_Ctx] = []
    chain_fnames: list[str] = []
    prev = root_ctx
    prev_fname = ROOT
    for d, seg in enumerate(chain, start=1):
        arr_ctx = _flat_descend(prev, list(seg))
        assert arr_ctx is not None
        arr_ctxs.append(arr_ctx)
        i_col = _q(f"__ok_i{d}")
        elem_path = _elem_path(arr_ctx.path, i_col)
        ctx = _Ctx(_q(f"__ok_e{d}"), chain_dtypes[d - 1], elem_path, i_col.isNotNull())
        level_ctx.append(ctx)
        if seg:
            prev_fname = _join_fname(prev_fname, ".".join(n.name for n in seg)) + "[]"
        else:
            prev_fname = prev_fname + "[]"
        chain_fnames.append(prev_fname)
        prev = ctx
    frames = [root_ctx, *level_ctx]

    def route(segs: list[tuple[Name, ...]]) -> int | None:
        """The chain depth whose generated rows hold every instance of a path
        with these array segments, or None (the path is HOF-walked)."""
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
        if path == ROOT:
            root_val = F.struct(*[_q(c).alias(c) for c in df_schema.names])
            checks = lower_checks(root_val, df_schema, F.lit(ROOT), rules, value_never_null=True)
            scalar_checks.extend((0, c) for c in checks)
            continue
        steps = parse_path(path)
        segs, tail = _decompose(steps)
        level = route(segs)
        if level is None:

            def rule_body(value, dtype, pcol, _rules=rules):
                return _checks_array(lower_checks(value, dtype, pcol, _rules))

            arr = _map_instances(df_schema, steps, rule_body)
            if arr is not None:
                dyn_arrays.append((0, arr))
            continue
        ctx = _flat_descend(frames[level], tail)
        if ctx is not None:
            checks = lower_checks(ctx.value, ctx.dtype, ctx.path, rules, exists=ctx.exists)
            scalar_checks.extend((level, c) for c in checks)

    # ---- phase 2: missing fields ----------------------------------------------
    for fidx, (path, spec) in enumerate(fields):
        if spec.strictness != "required" or path == ROOT:
            continue
        parent_name, child = parent_and_child(path)
        nullable_parent = compiled.fields.get(parent_name, FieldSpec()).is_nullable_object()
        key = child_key(child)
        seq = _seq(1, fidx)
        psteps = parse_path(parent_name)
        segs, tail = _decompose(psteps)
        level = route(segs)
        if level is None:

            def missing_body(pv, pdt, pp, _c=child, _k=key, _np=nullable_parent, _s=seq):
                col = _missing_cond(pv, pdt, pp, _c, _k, _np, _s)
                return _checks_array([] if col is None else [col])

            arr = _map_instances(df_schema, psteps, missing_body)
            if arr is not None:
                dyn_arrays.append((0, arr))
            continue
        pctx = _flat_descend(frames[level], tail)
        if pctx is None:
            continue
        col = _missing_cond(
            pctx.value, pctx.dtype, pctx.path, child, key, nullable_parent, seq, pctx.exists
        )
        if col is not None:
            scalar_checks.append((level, col))

    # ---- phase 3: extra fields ---------------------------------------------------
    if not compiled.ignore_extra_fields:
        fnames = [ROOT, *chain_fnames]
        for d, ctx in enumerate(frames):
            skip = chain_fnames[d] if d < len(chain_fnames) else None
            checks, arrays = _extra_walk(
                compiled, ctx.value, ctx.dtype, fnames[d], ctx.path, ctx.exists, skip
            )
            scalar_checks.extend((d, c) for c in checks)
            dyn_arrays.extend((d, a) for a in arrays)
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
    bodies) as ONE non-null ``array<violation>`` Column per input row."""
    _, scalar_checks, dyn_arrays = _lower(df_schema, compiled, [])
    return _checks_array([c for _, c in scalar_checks], [a for _, a in dyn_arrays])


# ---------------------------------------------------------------------------
# Missing and extra fields at one flat frame
# ---------------------------------------------------------------------------


def _missing_cond(
    pv: Column | None,
    pdt: DataType,
    pp: Column | None,
    child: str,
    key: str,
    nullable_parent: bool,
    seq: int,
    exists: Column | None = None,
) -> Column | None:
    """Single missing_field violation column under one parent instance ``pv``
    (None: the document root, never null), or None when impossible."""
    conds: list[Column] = []
    if not nullable_parent and pv is not None:
        conds.append(pv.isNull())
    if isinstance(pdt, StructType):
        if key not in pdt.names:
            conds.append(F.lit(True) if pv is None else pv.isNotNull())
    elif isinstance(pdt, MapType):
        present = F.coalesce(F.map_contains_key(pv, F.lit(key)), F.lit(False))
        conds.append(pv.isNotNull() & ~present)
    if not conds:
        return None
    cond = reduce(or_, conds)
    if exists is not None:
        cond = exists & cond
    mpath = F.lit(child) if pv is None else F.concat(pp, F.lit("."), F.lit(child))
    return F.when(cond, make_violation(mpath, "missing_field", None, seq))


def _extra_walk(
    compiled: CompiledSchema,
    value: Column | None,
    dtype: DataType,
    fname: str,
    path: Column | None,
    exists: Column | None,
    skip: str | None = None,
) -> tuple[list[Column], list[Column]]:
    """Extra-field reports under one frame (``value`` None: the document
    root): ``(nullable violation checks, array<violation> parts)``.

    ``exists`` is when the frame's parents exist; the walk guards on the
    value itself. Struct members and declared map keys take one step each:
    an undeclared one is reported (only the topmost extra path: undeclared
    subtrees are not walked, as in the reference's pruned index); a declared
    one is walked in the same frame. A declared array's elements each get a
    fresh frame inside a ``transform``; ``skip`` names the element field of
    the explode chain's next array, whose elements are walked at their own
    generated rows instead."""
    seq = _seq(2, 0)
    checks: list[Column] = []
    arrays: list[Column] = []
    if isinstance(dtype, ArrayType):
        elem_fname = fname + "[]"
        if elem_fname not in compiled.fields or elem_fname == skip:
            return checks, arrays  # undeclared lists are never walked (index.py:39-40)
        elem_dt = dtype.elementType
        # build-time probe: no transform when no element can report anything
        probe = _extra_walk(compiled, F.lit(None).cast(elem_dt), elem_dt, elem_fname, path, None)
        if not any(probe):
            return checks, arrays
        each = F.transform(
            value,
            lambda x, i: _checks_array(
                *_extra_walk(compiled, x, elem_dt, elem_fname, _elem_path(path, i), None)
            ),
        )
        arr = F.coalesce(F.flatten(each), empty_violations())
        arrays.append(arr if exists is None else F.when(exists, arr).otherwise(empty_violations()))
        return checks, arrays
    if isinstance(dtype, StructType):
        members = [(m, dtype[m].dataType) for m in dtype.names if value is not None or m != ROW_KEY]
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
        arrays.append(arr if exists is None else F.when(exists, arr).otherwise(empty_violations()))
        members = [(k, dtype.valueType) for k in declared]
    else:
        return checks, arrays
    for name, child_dt in members:
        child_fname = _join_fname(fname, name)
        child, cpath, step_present = _child(value, dtype, path, name)
        present = _and_opt(exists, step_present)
        if child_fname not in compiled.fields:
            viol = make_violation(cpath, "extra_field", None, seq)
            checks.append(viol if present is None else F.when(present, viol))
        elif isinstance(child_dt, (StructType, MapType, ArrayType)):
            sub = _extra_walk(compiled, child, child_dt, child_fname, cpath, present, skip)
            checks += sub[0]
            arrays += sub[1]
    return checks, arrays
