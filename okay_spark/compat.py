"""Arrow-batched evaluation of ``custom`` rules (reference operator O16).

okay's extension point is a user callable ``(field, value, **kwargs) ->
Message | None`` (``/root/reference/src/okay/type_validators/custom_validator.py:17-26``).
Arbitrary Python cannot lower to Column expressions, so custom rules run as
vectorized ``pandas_udf``\\ s: Arrow ships the relevant top-level column to
Python in batches, the UDF walks each value down the remaining path steps
(mirroring the index fan-out, ``index.py:37-51``) and applies the callable,
returning an ``array<violation>`` that the engine concatenates with the
native battery. Everything else in the battery stays JVM-side.

Error semantics mirror the reference: a custom callable that raises, or
returns something other than ``Message``/``None``, aborts the run with a
``SchemaError`` carrying the same message text (``custom_validator.py:21-24``)
— surfaced as a task failure in a distributed run.
"""

from __future__ import annotations

import math
from typing import Any

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StructType,
)

from .errors import SchemaError
from .messages import Message, expected_json
from .paths import ELEM, ROOT, ROW_KEY, Name, Step, parse_path
from .rules import _STRING_TYPES, VIOL_ARRAY_DDL, is_arrow_routed
from .schema import CompiledSchema, Rule


def _scalar_item(value: Any) -> Any:
    if value is None:
        return None
    return value.item() if hasattr(value, "item") else value


def _build_converter(dtype: DataType, *, top: bool) -> Any:
    """Compile a minimal pandas-cell -> plain-Python converter for ``dtype``,
    or ``None`` when the cell already arrives as plain Python.

    Conversion is driven by how Spark's Arrow deserializer actually delivers
    values to a pandas_udf (measured, not assumed):

    - a TOP-LEVEL field of the wrapper struct becomes its own pandas Series:
      numeric/bool scalars are numpy scalars (``.item()`` needed so user
      callables' ``isinstance(value, int)`` checks behave), strings are plain;
    - NESTED values inside object cells come via Arrow ``as_py``: struct ->
      plain dict, scalars plain (no numpy) — identity;
    - list nodes (any level) surface as ``numpy.ndarray`` -> convert to
      ``list`` (reference callables isinstance-check list);
    - map nodes surface as a list of (key, value) tuples -> ``dict``.

    Round 1 recursively rebuilt every value through a generic ``_to_py``
    (dict comprehensions per struct, per-scalar dispatch) — 42% of the
    headline bench. The compiled converter touches only the nodes that need
    touching; a rule on a plain string column converts nothing at all."""
    if isinstance(dtype, StructType):
        subs = [(f.name, _build_converter(f.dataType, top=False)) for f in dtype.fields]
        convs = [(n, c) for n, c in subs if c is not None]

        def null_struct(v: Any) -> bool:
            # a null struct can surface as NaN on some pandas paths
            return v is None or (isinstance(v, float) and math.isnan(v))

        if not convs:
            return lambda v: None if null_struct(v) else v

        def conv_struct(v: Any, _convs=convs) -> Any:
            if null_struct(v):
                return None
            out = dict(v)
            for n, c in _convs:
                out[n] = c(out.get(n))
            return out

        return conv_struct
    if isinstance(dtype, ArrayType):
        c = _build_converter(dtype.elementType, top=False)
        if c is None:
            return lambda v: None if v is None else list(v)
        return lambda v, _c=c: None if v is None else [_c(x) for x in v]
    if isinstance(dtype, MapType):
        c = _build_converter(dtype.valueType, top=False)
        if c is None:
            return lambda v: (
                None if v is None else (v if isinstance(v, dict) else dict(v))
            )

        def conv_map(v: Any, _c=c) -> Any:
            if v is None:
                return None
            items = v.items() if isinstance(v, dict) else v
            return {k: _c(x) for k, x in items}

        return conv_map
    if top and not isinstance(dtype, _STRING_TYPES):
        # top-level numeric/bool Series deliver numpy scalars (and NaN for
        # null doubles — the documented artifact, preserved for parity with
        # round 1: comparisons against NaN are False either way)
        return _scalar_item
    return None


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


def _apply_custom(rule: Rule, ipath: str, value: Any, seq: int) -> dict | None:
    fn = rule.params["validator"]
    kwargs = rule.params["kwargs"]
    try:
        message = fn(ipath, value, **kwargs)
    except Exception as e:  # noqa: BLE001 - parity with reference
        raise SchemaError(
            f"Custom validation function `{fn.__name__}()` specified for field "
            f"'{ipath}' raised exception `{type(e).__name__}`."
        ) from e
    if message is None:
        return None
    if not isinstance(message, Message) and type(message).__name__ != "Message":
        raise SchemaError(
            f"Custom validation function `{fn.__name__}()` specified for field "
            f"'{ipath}' must return a `Message` object, but it returned a "
            f"`{type(message).__name__}` object instead."
        )
    return {
        "path": getattr(message, "field", ipath),
        "rule": message.type,
        "expected": expected_json(getattr(message, "expected", None)),
        "seq": seq,
    }


def _apply_arrow_rule(rule: Rule, ipath: str, value: Any, seq: int) -> dict | None:
    """Evaluate one Arrow-routed rule on one non-null instance value.

    ``custom`` rules run the user callable; Python-dialect ``string`` rules
    run the dynamic interpreter's exact Python ``re`` twin (same priority
    ladder / OR-semantics as the reference, ``string_validator.py:36-70``)."""
    if rule.type == "custom":
        return _apply_custom(rule, ipath, value, seq)
    from .dynamic import _check_string

    v = _check_string(rule, ipath, value)
    if v is None:
        return None
    rule_name, path, expected = v
    return {"path": path, "rule": rule_name, "expected": expected, "seq": seq}


def _field_array_conv(ft: DataType):
    """Per-field element conversion for the struct-of-arrays ship format:
    ``ndarray.tolist()`` is the C fast path (recursively yields plain Python
    scalars/lists); nested struct/map elements then go through the compiled
    nested converter so maps become dicts exactly as on the unpruned path.

    Arrow->pandas promotes a NULLABLE integer (or boolean) field array to
    float64-with-NaN, so a bare ``tolist()`` would hand the callable ``nan``
    where a pure-Python caller (the reference) sees ``None`` — silently
    flipping ``if field is None`` checks on declared rules. Integral/boolean
    dtypes therefore normalize NaN back to None and promoted floats back to
    int/bool (measured: a nullable-int batch arrives as ``None|7.0`` on the
    unpruned path and arrived as ``nan|7.0`` here pre-fix; post-fix the
    pruned path delivers the reference-faithful ``None|7``). The all-valid
    case keeps the ndarray fast path (dtype stays integer/bool kind).
    Float/double fields are deliberately NOT normalized: a null double
    inside a struct surfaces as NaN on the unpruned path too (the
    documented Arrow divergence in :func:`custom_violation_arrays`)."""
    inner_c = _build_converter(ft, top=False)
    if inner_c is None:
        if isinstance(ft, (ByteType, ShortType, IntegerType, LongType)):

            def conv_int(arr):
                if hasattr(arr, "dtype") and arr.dtype.kind in "iu":
                    return arr.tolist()
                out = arr.tolist() if hasattr(arr, "tolist") else list(arr)
                return [
                    None if x is None or x != x else int(x) if isinstance(x, float) else x
                    for x in out
                ]

            return conv_int
        if isinstance(ft, BooleanType):

            def conv_bool(arr):
                if hasattr(arr, "dtype") and arr.dtype.kind == "b":
                    return arr.tolist()
                out = arr.tolist() if hasattr(arr, "tolist") else list(arr)
                return [None if x is None or x != x else bool(x) for x in out]

            return conv_bool
        return lambda arr: arr.tolist() if hasattr(arr, "tolist") else list(arr)
    return lambda arr, _c=inner_c: [
        _c(x) for x in (arr.tolist() if hasattr(arr, "tolist") else arr)
    ]


def _maybe_prune(custom_rules, rest, top_dt: DataType, inner: Column):
    """Column pruning for custom rules: when every Arrow-routed rule on the
    field is a ``custom`` rule that declares its read-set via the engine-only
    ``arrow_fields=`` parameter, ship only those struct fields across Arrow.

    Returns ``(ship_dt, ship_col, rebuild)``; ``rebuild`` is None when the
    value ships unchanged (the caller then uses the generic compiled
    converter), else a callable mapping the shipped cell back to the
    original-shaped pruned value the user callable expects.

    For ``array<struct>`` the pruned value ships as a STRUCT OF PLAIN ARRAYS
    (an element-validity boolean array plus one array per declared field),
    not as an array of narrowed structs. Measured at 6M docs / local[32]
    (BENCH/ARROW_FIELDS.md): a null-guarded ``transform(.., when(isNotNull,
    struct(..)))`` rebuild costs ~3.5s JVM-side (the ``when`` guard alone
    ~2.5s — per-element branches in a higher-order lambda don't codegen
    tightly), and an array-of-one-field-structs crosses Arrow at 4.65s vs
    1.30s for a plain array — which is why round 2's struct-rebuild pruning
    measured SLOWER than unpruned. ``getField`` extraction is columnar, the
    validity mask is a cheap HOF, and the dict-per-element rebuild happens
    Python-side on ``ndarray.tolist()`` output. Null elements stay
    distinguishable via the mask (a callable's ``if span is not None`` must
    not flip — tests/test_embed_and_cluster.py pins it). Opt-in: with no
    declaration the full value crosses, byte-for-byte reference semantics."""
    if rest:
        return top_dt, inner, None  # pruning defined only for whole-column rules
    declared = []
    for _seq, rule in custom_rules:
        if rule.type != "custom":
            return top_dt, inner, None
        fields = rule.params.get("arrow_fields")
        if fields is None:
            return top_dt, inner, None
        declared.extend(fields)
    if isinstance(top_dt, ArrayType) and isinstance(top_dt.elementType, StructType):
        elem = top_dt.elementType
        keep = [f for f in elem.fields if f.name in set(declared)]
        if not keep or any(f.name == "_valid" for f in keep):
            return top_dt, inner, None
        names = [f.name for f in keep]
        ship = F.struct(
            F.transform(inner, lambda x: x.isNotNull()).alias("_valid"),
            *[inner.getField(f.name).alias(f.name) for f in keep],
        )
        convs = [_field_array_conv(f.dataType) for f in keep]

        def rebuild(cell: Any, _names=names, _convs=convs) -> Any:
            if cell is None or (isinstance(cell, float) and math.isnan(cell)):
                return None
            valid = cell["_valid"]
            if valid is None:  # the source array itself was NULL
                return None
            cols = [c(cell[n]) for n, c in zip(_names, _convs)]
            return [
                dict(zip(_names, vals)) if ok else None
                for ok, *vals in zip(valid, *cols)
            ]

        # ship_dt unused on this path: the caller routes through `rebuild`
        # instead of compiling a converter from the datatype
        return None, ship, rebuild
    if isinstance(top_dt, StructType):
        keep = [f for f in top_dt.fields if f.name in set(declared)]
        if not keep:
            return top_dt, inner, None
        # row-level when/struct stays in whole-stage codegen (the measured
        # blowup is specific to per-element branches inside transform)
        pruned = F.when(
            inner.isNotNull(),
            F.struct(*[inner[f.name].alias(f.name) for f in keep]),
        )
        return StructType(keep), pruned, None
    return top_dt, inner, None


def has_arrow_routed(compiled: CompiledSchema) -> bool:
    """True when any rule needs the Arrow pass: custom rules, plus string
    rules auto-routed there because their regex uses Python-only dialect
    constructs (see :func:`okay_spark.rules.is_arrow_routed`)."""
    return any(is_arrow_routed(r) for f in compiled.fields.values() for r in f.rules)


def custom_violation_arrays(
    df_schema: StructType, compiled: CompiledSchema
) -> list[Column]:
    """One array<violation> Column per field that carries Arrow-routed rules
    (custom rules and Python-dialect regex string rules).

    The relevant top-level column is wrapped in ``struct(v := col)`` before
    crossing Arrow: Spark hands struct columns to a pandas_udf as a
    ``pd.DataFrame`` of field columns, and the wrapper keeps top-level
    null-ness observable (a bare null struct would otherwise be
    indistinguishable from a struct of nulls). Known Arrow artifact: a null
    double *inside* a struct surfaces as NaN, not None — custom callables
    comparing against such fields see ``nan`` where the reference sees
    ``None`` (documented divergence; comparisons involving NaN are False
    either way)."""
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
            top_dt: DataType = StructType([f for f in df_schema.fields if f.name != ROW_KEY])
            inner = F.struct(*[F.col("`" + c + "`").alias(c) for c in top_dt.names])
            base_path, rest = ROOT, []
        else:
            head = steps[0]
            assert isinstance(head, Name)
            if head.name not in df_schema.names:
                continue  # no instances (column statically absent)
            top_dt = df_schema[head.name].dataType
            inner = F.col("`" + head.name + "`")
            base_path, rest = head.name, steps[1:]
            top_dt, inner, rebuild = _maybe_prune(custom_rules, rest, top_dt, inner)
        wrapped = F.struct(inner.alias("v"))

        def make_udf(rules=custom_rules, dtype=top_dt, base=base_path, rem=rest, rb=rebuild):
            conv = rb if rb is not None else _build_converter(dtype, top=True)

            @F.pandas_udf(VIOL_ARRAY_DDL)
            def run(col: pd.DataFrame) -> pd.Series:
                # Series.tolist() is the C fast path: object cells come out
                # as-is, numeric Series as plain Python scalars (so the
                # compiled converter's top-scalar branch is usually a no-op)
                values = col["v"].tolist()
                results = []
                for value in values:
                    if conv is not None:
                        value = conv(value)
                    if not rem:
                        instances = [(base, value)]
                    else:
                        instances = []
                        _walk(value, rem, base, instances)
                    viols = [
                        v
                        for ipath, val in instances
                        if val is not None
                        for seq, rule in rules
                        if (v := _apply_arrow_rule(rule, ipath, val, seq)) is not None
                    ]
                    results.append(viols)
                return pd.Series(results, dtype=object)

            return run

        arrays.append(F.coalesce(make_udf()(wrapped), F.array().cast(VIOL_ARRAY_DDL)))
    return arrays
