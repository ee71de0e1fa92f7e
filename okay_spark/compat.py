"""Arrow-batched evaluation of the battery's Arrow-routed rules (reference
operator O16 and Python-dialect regex).

okay's extension point is a user callable ``(field, value, **kwargs) ->
Message | None`` (``/root/reference/src/okay/type_validators/custom_validator.py:17-26``).
Arbitrary Python cannot lower to Column expressions, so custom rules run as
Arrow UDFs (``F.arrow_udf``), and so do ``string`` rules whose regex uses
Python-only dialect. Arrow ships the relevant top-level column to Python in
batches as a ``pyarrow.Array``, :func:`_py_values` turns each batch into
plain Python column by column (no pandas), and the UDF walks each value down
the remaining path steps (mirroring the index fan-out, ``index.py:37-51``).
Every rule then runs through the per-document interpreter's
:func:`okay_spark.dynamic._check_rule`, so the Arrow pass and
:mod:`okay_spark.dynamic` cannot disagree on a value. The UDF returns an
``array<violation>``; :func:`custom_violation_arrays` hands these to
``plan_exploded._lower`` as level-0 arrays of the one battery lowering, so
both of its assemblies carry them and no caller concatenates them.
Everything else in the battery stays JVM-side. :func:`_py_values` is also
the seam through which ``dynamic.validate_json`` reads its JSON column.

Callables see the values ``Row.asDict(recursive=True)`` gives, which the
per-document interpreter (:mod:`okay_spark.dynamic`) validates: ``None`` for
every NULL (never NaN), ``int`` for integral columns, ``dict`` for structs
and maps, ``list`` for arrays, and naive session-time-zone ``datetime`` for
timestamps.

Error semantics mirror the reference: a custom callable that raises, or
returns something other than ``Message``/``None``, aborts the run with a
``SchemaError`` carrying the same message text (``custom_validator.py:21-24``)
— surfaced as a task failure in a distributed run.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructType

from .dynamic import _check_rule
from .paths import ELEM, ROOT, ROW_KEY, Name, Step, parse_path
from .rules import VIOL_ARRAY_DDL, empty_violations, is_arrow_routed
from .schema import CompiledSchema

# rules.VIOL_ARRAY_DDL as an Arrow type: what each UDF returns
VIOL_ARRAY = pa.list_(
    pa.struct(
        [("path", pa.string()), ("rule", pa.string()), ("expected", pa.string()), ("seq", pa.int64())]
    )
)


def _py_values(arr: pa.Array) -> list:
    """``arr`` as a list of plain Python values, built column by column.

    Equals ``arr.to_pylist()`` with maps as dicts and tz-aware timestamps as
    naive local times of their zone. ``to_pylist()`` on nested arrays makes
    one Python object per Arrow scalar and is several times slower. Flat
    arrays go through numpy's ``tolist()``, structs zip their child columns
    into dicts, and lists and maps slice their converted children on the
    offsets. ``.values``/``.keys``/``.items`` ignore a slice's offset, so
    the children are sliced to ``[offsets[0], offsets[-1])`` first. The
    validity mask alone decides where a value is ``None``: a NULL integer
    never becomes a float, and a NaN double stays NaN."""
    n = len(arr)
    if arr.null_count == n:
        return [None] * n
    nulls = (
        np.flatnonzero(~arr.is_valid().to_numpy(zero_copy_only=False)).tolist()
        if arr.null_count
        else []
    )
    t = arr.type
    if pa.types.is_struct(t):
        cols = [_py_values(arr.field(i)) for i in range(t.num_fields)]
        names = [f.name for f in t]
        values = [dict(zip(names, row)) for row in zip(*cols)]
    elif pa.types.is_map(t) or pa.types.is_list(t) or pa.types.is_large_list(t):
        offs = arr.offsets.to_numpy()
        lo, hi = int(offs[0]), int(offs[-1])
        bounds = (offs - lo).tolist()
        if pa.types.is_map(t):
            keys = _py_values(arr.keys.slice(lo, hi - lo))
            items = _py_values(arr.items.slice(lo, hi - lo))
            values = [dict(zip(keys[a:b], items[a:b])) for a, b in zip(bounds, bounds[1:])]
        else:
            elems = _py_values(arr.values.slice(lo, hi - lo))
            values = [elems[a:b] for a, b in zip(bounds, bounds[1:])]
    else:
        if pa.types.is_timestamp(t) and t.tz is not None:
            arr = pc.local_timestamp(arr)
        elif pa.types.is_integer(t) and nulls:
            arr = arr.fill_null(0)  # numpy would promote it to float64
        values = arr.to_numpy(zero_copy_only=False).tolist()
    for i in nulls:
        values[i] = None
    return values


def _walk(value: Any, steps: list[Step], path: str, out: list[tuple[str, Any]]) -> None:
    """Instance fan-out for the remaining path steps (mirrors index.py)."""
    if not steps:
        out.append((path, value))
        return
    step, rest = steps[0], steps[1:]
    if step is ELEM:
        if isinstance(value, list):
            for i, elem in enumerate(value):
                _walk(elem, rest, f"{path}[{i}]", out)
        return
    assert isinstance(step, Name)
    if isinstance(value, dict) and step.name in value:
        _walk(value[step.name], rest, f"{path}.{step.name}", out)


def _maybe_prune(custom_rules, rest, top_dt: DataType, inner: Column):
    """Column pruning for custom rules: when every Arrow-routed rule on the
    field is a ``custom`` rule that declares its read-set via the engine-only
    ``arrow_fields=`` parameter, ship only those struct fields across Arrow.

    Returns ``(ship_col, rebuild)``; ``rebuild`` is None when the shipped
    value is what the callable sees, else a callable mapping the shipped
    cell back to the original-shaped pruned value the user callable expects.

    For ``array<struct>`` the pruned value ships as a STRUCT OF PLAIN ARRAYS
    (an element-validity boolean array plus one array per declared field),
    not as an array of narrowed structs. Measured at 6M docs / local[32]
    (BENCH/ARROW_FIELDS.md): a null-guarded ``transform(.., when(isNotNull,
    struct(..)))`` rebuild costs ~3.5s JVM-side (the ``when`` guard alone
    ~2.5s — per-element branches in a higher-order lambda don't codegen
    tightly), and an array-of-one-field-structs crosses Arrow at 4.65s vs
    1.30s for a plain array — which is why round 2's struct-rebuild pruning
    measured SLOWER than unpruned. ``getField`` extraction is columnar, the
    validity mask is a cheap HOF, and ``rebuild`` zips the per-field lists
    into one dict per element. Null elements stay distinguishable via the
    mask (a callable's ``if span is not None`` must not flip —
    tests/test_embed_and_cluster.py pins it). Opt-in: with no declaration
    the full value crosses, byte-for-byte reference semantics."""
    if rest:
        return inner, None  # pruning defined only for whole-column rules
    declared = []
    for _seq, rule in custom_rules:
        if rule.type != "custom":
            return inner, None
        fields = rule.params.get("arrow_fields")
        if fields is None:
            return inner, None
        declared.extend(fields)
    if isinstance(top_dt, ArrayType) and isinstance(top_dt.elementType, StructType):
        keep = [f.name for f in top_dt.elementType.fields if f.name in set(declared)]
        if not keep or "_valid" in keep:
            return inner, None
        ship = F.struct(
            F.transform(inner, lambda x: x.isNotNull()).alias("_valid"),
            *[inner.getField(name).alias(name) for name in keep],
        )

        def rebuild(cell: Any, _names=keep) -> Any:
            if cell is None or cell["_valid"] is None:  # the source array was NULL
                return None
            return [
                dict(zip(_names, vals)) if ok else None
                for ok, *vals in zip(cell["_valid"], *(cell[n] for n in _names))
            ]

        return ship, rebuild
    if isinstance(top_dt, StructType):
        keep = [f.name for f in top_dt.fields if f.name in set(declared)]
        if not keep:
            return inner, None
        # row-level when/struct stays in whole-stage codegen (the measured
        # blowup is specific to per-element branches inside transform)
        return F.when(inner.isNotNull(), F.struct(*[inner[n].alias(n) for n in keep])), None
    return inner, None


def custom_violation_arrays(
    df_schema: StructType, compiled: CompiledSchema
) -> list[Column]:
    """One array<violation> Column per field that carries Arrow-routed rules
    (custom rules and Python-dialect regex string rules); empty when no
    rule is Arrow-routed. Called only by ``plan_exploded._lower``.

    The UDF takes the relevant top-level column itself: a NULL struct
    arrives as a NULL slot of the ``StructArray``, so top-level null-ness
    stays observable without a wrapper."""
    arrays: list[Column] = []
    for fidx, (path, spec) in enumerate(compiled.fields.items()):
        custom_rules = [
            (fidx * 1_000 + ridx, rule)
            for ridx, rule in enumerate(spec.rules)
            if is_arrow_routed(rule)
        ]
        if not custom_rules:
            continue
        steps = parse_path(path)
        rebuild = None
        if path == ROOT:
            names = [f.name for f in df_schema.fields if f.name != ROW_KEY]
            inner = F.struct(*[F.col("`" + c + "`").alias(c) for c in names])
            base_path, rest = ROOT, []
        else:
            head = steps[0]
            assert isinstance(head, Name)
            if head.name not in df_schema.names:
                continue  # no instances (column statically absent)
            inner = F.col("`" + head.name + "`")
            base_path, rest = head.name, steps[1:]
            inner, rebuild = _maybe_prune(custom_rules, rest, df_schema[head.name].dataType, inner)

        def make_udf(rules=custom_rules, base=base_path, rem=rest, rb=rebuild):
            @F.arrow_udf(VIOL_ARRAY_DDL)
            def run(col: pa.Array) -> pa.Array:
                results = []
                for value in _py_values(col):
                    if rb is not None:
                        value = rb(value)
                    if not rem:
                        instances = [(base, value)]
                    else:
                        instances = []
                        _walk(value, rem, base, instances)
                    results.append(
                        [
                            dict(zip(("rule", "path", "expected"), v), seq=seq)
                            for ipath, val in instances
                            if val is not None
                            for seq, rule in rules
                            if (v := _check_rule(rule, ipath, val)) is not None
                        ]
                    )
                return pa.array(results, type=VIOL_ARRAY)

            # nondeterministic: the optimizer must not copy the UDF into a
            # pushed-down filter (it would run twice per row)
            return run.asNondeterministic()

        arrays.append(F.coalesce(make_udf()(inner), empty_violations()))
    return arrays
