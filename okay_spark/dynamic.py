"""Dynamic-document validation: full okay parity over raw JSON columns.

The columnar engine validates *typed* tables, where okay's dynamic typing
resolves against the static column type (SURVEY.md §1.5). Real okay users
validate arbitrary dicts — heterogeneous types, truly absent keys, extra
keys anywhere. This module lifts that exact use case to a DataFrame: a
column of JSON documents is validated per row with a faithful Python
interpreter of the compiled schema, run as an Arrow UDF over the JSON column
(one Python round-trip per batch; this is the compatibility path, not the
10^12-row hot path — the typed battery stays zero-Python).

This interpreter is the only Python evaluator of okay rules: the Arrow pass
of the typed battery (:mod:`okay_spark.compat`) and the per-value
validators (:mod:`okay_spark.validators`) call :func:`_check_rule` and
:func:`_call_custom` too.

Semantics mirror the reference exactly (differentially tested against it):
index walk pruned to schema fields (``/root/reference/src/okay/index.py:11-51``),
null/rule scan in traversal order (``validator.py:40-58``), missing fields
(``validator.py:70-93``), extra fields, OR-within-rule / AND-across-rules,
priority ladders, Decimal-coerced number comparisons
(``number_validator.py:20``), bool-passes-int/number, regex fullmatch.
Deliberate divergences (same as the engine): no crash on inf/nan under int
rules (classified ``invalid_type``), no crash on NaN against ``number``
bounds or options (Spark's ordering: NaN sorts above every number and
equals itself), no defaultdict-mutation crash on null list elements, and
a whole ``Decimal`` passes an ``int`` rule, as a decimal column does in the
battery (JSON documents never hold a ``Decimal``).
±inf under ``number`` rules is no divergence: ``Decimal`` orders it
against any bound, as Spark does.
"""

from __future__ import annotations

import json
import math
import re
from decimal import Decimal
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .errors import SchemaError
from .messages import Message, expected_json, parse_expected
from .schema import CompiledSchema, Rule, compile_cached

Violation = tuple[str, str, str | None]  # (rule/message type, path, expected json)


# ---------------------------------------------------------------------------
# Rule interpreters (Python twins of the Column lowerings in rules.py)
# ---------------------------------------------------------------------------


def _check_string(rule: Rule, path: str, value: Any) -> Violation | None:
    if not isinstance(value, str):
        return ("invalid_type", path, expected_json({"type": "string"}))
    p = rule.params
    pattern, options = p.get("regex"), p.get("options")
    case_sensitive = p.get("case_sensitive", True)
    lo, hi = p.get("min"), p.get("max")
    expected = expected_json(
        {
            "case_sensitive": case_sensitive if options is not None else None,
            "max": hi,
            "min": lo,
            "options": options,
            "regex": pattern,
        }
    )
    pass_regex = bool(re.fullmatch(pattern, value)) if pattern is not None else False
    pass_min = len(value) >= lo if lo is not None else hi is not None
    pass_max = len(value) <= hi if hi is not None else lo is not None
    if options is not None:
        pass_opt = value in options or (not case_sensitive and value.lower() in options)
    else:
        pass_opt = False
    if pass_regex or pass_opt or (pass_min and pass_max):
        return None
    if pattern is not None and not pass_regex:
        return ("no_match", path, expected)
    if lo is not None and not pass_min:
        return ("string_too_short", path, expected)
    if hi is not None and not pass_max:
        return ("string_too_long", path, expected)
    if options is not None and not pass_opt:
        return ("invalid_string_option", path, expected)
    return None


def _check_number(rule: Rule, path: str, value: Any, type_name: str) -> Violation | None:
    if type_name == "int":
        # the reference crashes on NaN/±inf under int rules; documented
        # divergence: they are not whole numbers, so invalid_type. A whole
        # Decimal is an int, as the battery admits a DecimalType column
        # (rules.type_admission).
        whole = isinstance(value, int) or (
            isinstance(value, float) and math.isfinite(value) and value.is_integer()
        ) or (
            isinstance(value, Decimal) and value.is_finite() and value == value.to_integral_value()
        )
        if not whole:
            return ("invalid_type", path, expected_json({"type": "int"}))
    elif not isinstance(value, (int, float, Decimal)):
        return ("invalid_type", path, expected_json({"type": "number"}))
    p = rule.params
    lo, hi, options = p.get("min"), p.get("max"), p.get("options")
    if lo is None and hi is None and options is None:
        return None
    expected = expected_json({"min": lo, "max": hi, "options": options})
    if isinstance(value, float) and math.isnan(value):
        # the reference's Decimal comparison raises InvalidOperation on NaN;
        # documented divergence: Spark's ordering, NaN above every number
        # and equal to itself
        pass_min = lo is not None or hi is not None
        pass_max = hi is None and lo is not None
        pass_opt = any(isinstance(o, float) and math.isnan(o) for o in options or ())
    else:
        v = Decimal(value)  # okay's coercion (number_validator.py:20); exact for ±inf
        pass_min = v >= Decimal(lo) if lo is not None else hi is not None
        pass_max = v <= Decimal(hi) if hi is not None else lo is not None
        pass_opt = v in [Decimal(o) for o in options] if options is not None else False
    if pass_opt or (pass_min and pass_max):
        return None
    if lo is not None and not pass_min:
        return ("number_too_small", path, expected)
    if hi is not None and not pass_max:
        return ("number_too_large", path, expected)
    if options is not None and not pass_opt:
        return ("invalid_number_option", path, expected)
    return None


def _call_custom(
    fn: Callable[..., Any], kwargs: dict, path: str, value: Any, error_field: str | None
) -> Message | None:
    """Run a custom callable as okay does (``custom_validator.py:17-26``):
    ``fn(path, value, **kwargs)``. A raise becomes a ``SchemaError`` with the
    original error as its cause, and so does a return that is neither
    ``None`` nor a ``Message``. The error text names ``error_field``."""
    try:
        msg = fn(path, value, **kwargs)
    except Exception as e:  # noqa: BLE001 - parity with the reference
        raise SchemaError(
            f"Custom validation function `{fn.__name__}()` specified for field "
            f"'{error_field}' raised exception `{type(e).__name__}`."
        ) from e
    if msg is not None and not isinstance(msg, Message) and type(msg).__name__ != "Message":
        raise SchemaError(
            f"Custom validation function `{fn.__name__}()` specified for field "
            f"'{error_field}' must return a `Message` object, but it returned a "
            f"`{type(msg).__name__}` object instead."
        )
    return msg


def _check_rule(rule: Rule, path: str, value: Any) -> Violation | None:
    t = rule.type
    if t == "any":
        return None
    if t == "custom":
        msg = _call_custom(rule.params["validator"], rule.params["kwargs"], path, value, path)
        if msg is None:
            return None
        return (msg.type, getattr(msg, "field", path), expected_json(getattr(msg, "expected", None)))
    if t == "string":
        return _check_string(rule, path, value)
    if t in ("int", "number"):
        return _check_number(rule, path, value, t)
    if t == "bool":
        if not isinstance(value, bool):
            return ("invalid_type", path, expected_json({"type": "bool"}))
        return None
    if t == "object":
        if not isinstance(value, dict):
            return ("invalid_type", path, expected_json({"type": "object"}))
        return None
    if t == "list":
        if not isinstance(value, list):
            return ("invalid_type", path, expected_json({"type": "list"}))
        lo, hi = rule.params.get("min"), rule.params.get("max")
        expected = expected_json({"min": lo, "max": hi})
        if lo is not None and len(value) < lo:
            return ("too_few_elements", path, expected)
        if hi is not None and len(value) > hi:
            return ("too_many_elements", path, expected)
        return None
    return None  # pragma: no cover


# ---------------------------------------------------------------------------
# Document walk (Python twin of the reference's index, pruned to schema)
# ---------------------------------------------------------------------------


def _build_index(doc: Any, schema_fields) -> tuple[dict[str, list[tuple[str, Any]]], list[str]]:
    index: dict[str, list[tuple[str, Any]]] = {".": [(".", doc)]}
    extras: list[str] = []

    def walk_obj(obj: dict, fname_parent: str, path_parent: str) -> None:
        for key, value in obj.items():
            fname = key if fname_parent == "." else f"{fname_parent}.{key}"
            path = key if path_parent == "." else f"{path_parent}.{key}"
            if fname not in schema_fields:
                extras.append(path)
                continue
            index.setdefault(fname, []).append((path, value))
            if isinstance(value, dict):
                walk_obj(value, fname, path)
            elif isinstance(value, list):
                walk_list(value, fname, path)

    def walk_list(values: list, fname_parent: str, path_parent: str) -> None:
        fname = fname_parent + "[]"
        if fname not in schema_fields:
            return
        index.setdefault(fname, [])
        for i, value in enumerate(values):
            path = f"{path_parent}[{i}]"
            index[fname].append((path, value))
            if isinstance(value, dict):
                walk_obj(value, fname, path)
            elif isinstance(value, list):
                walk_list(value, fname, path)

    if isinstance(doc, dict):
        walk_obj(doc, ".", ".")
    return index, extras


class IndexEntry:
    """One instance of a schema field in a document (path + value) — the
    okay-compatible view of ``_build_index``'s ``(path, value)`` tuples
    (``/root/reference/src/okay/index.py:7-9``)."""

    __slots__ = ("path", "value")

    def __init__(self, path: str, value: Any) -> None:
        self.path = path
        self.value = value


class Index:
    """okay-compatible document index (``/root/reference/src/okay/index.py:1-4``):
    ``fields`` maps field name -> list[IndexEntry]; ``extra_fields`` lists the
    topmost undeclared paths. Built by :func:`create_index`."""

    def __init__(self) -> None:
        self.fields: dict[str, list[IndexEntry]] = {}
        self.extra_fields: list[str] = []


def create_index(document: Any, schema_fields) -> Index:
    """Drop-in for the reference's ``okay.index.create_index``
    (``index.py:11-18``): a thin object view over :func:`_build_index`, which
    is the interpreter's actual walk. Exists so the reference's 18
    ``test_index.py`` unit tests execute against this engine (they are run by
    ``scripts/reference_suite.py``); the columnar engine itself never builds
    a per-document index."""
    fields, extras = _build_index(document, set(schema_fields))
    index = Index()
    index.fields = {
        fname: [IndexEntry(path, value) for path, value in entries]
        for fname, entries in fields.items()
    }
    index.extra_fields = extras
    return index


def validate_document(compiled: CompiledSchema, doc: Any) -> list[Violation]:
    """Validate ONE document (any JSON value) with full okay semantics."""
    index, extras = _build_index(doc, compiled.fields.keys())
    out: list[Violation] = []

    # rule scan, traversal order (validator.py:40-58)
    for fname, instances in index.items():
        spec = compiled.fields.get(fname)
        if spec is None:
            continue
        for path, value in instances:
            for rule in spec.rules:
                if value is None:
                    if not rule.nullable:
                        out.append(("null_value", path, expected_json({"type": rule.type})))
                else:
                    v = _check_rule(rule, path, value)
                    if v is not None:
                        out.append(v)

    # missing fields, schema order (validator.py:70-93; without the
    # defaultdict-mutation crash on indexed parent instances)
    for fname, spec in compiled.fields.items():
        if spec.strictness != "required":
            continue
        if "." in fname:
            parent_name, child = fname.rsplit(".", 1)
        else:
            parent_name, child = ".", fname
        if parent_name == "" or fname == ".":
            continue
        parent_spec = compiled.fields.get(parent_name)
        nullable_parent = parent_spec.is_nullable_object() if parent_spec else False
        for ppath, pvalue in index.get(parent_name, []):
            mpath = child if ppath == "." else f"{ppath}.{child}"
            if pvalue is None:
                if not nullable_parent:
                    out.append(("missing_field", mpath, None))
                continue
            if isinstance(pvalue, dict) and child.strip("[]") not in pvalue:
                out.append(("missing_field", mpath, None))

    if not compiled.ignore_extra_fields:
        out.extend(("extra_field", path, None) for path in extras)
    return out


# ---------------------------------------------------------------------------
# DataFrame surface
# ---------------------------------------------------------------------------


# what validate_json's UDF returns per document: its (path, rule, expected) rows
_JSON_VIOLATIONS_DDL = "array<struct<path:string,rule:string,expected:string>>"
_JSON_VIOLATIONS = pa.list_(
    pa.struct([("path", pa.string()), ("rule", pa.string()), ("expected", pa.string())])
)


def validate_json(
    df: DataFrame,
    json_col: str,
    schema,
    *,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Validate a column of JSON documents; returns
    ``(*id_cols, path, rule, expected)``. Unparseable/null JSON yields one
    ``invalid_json`` violation at the root.

    Only the JSON column crosses into Python, through the same Arrow seam
    as the battery's custom rules (``compat._py_values``); the id columns
    stay in the JVM beside the UDF's result."""
    from .compat import _py_values  # compat imports this module

    compiled = schema if isinstance(schema, CompiledSchema) else compile_cached(schema)
    id_cols = id_cols if id_cols is not None else [c for c in df.columns if c == "doc_id"]

    def document_violations(raw: str | None) -> list[tuple[str, str, str | None]]:
        try:
            doc = json.loads(raw)
        except (ValueError, TypeError):
            return [(".", "invalid_json", None)]
        return [(path, rule, expected) for rule, path, expected in validate_document(compiled, doc)]

    @F.arrow_udf(_JSON_VIOLATIONS_DDL)
    def kernel(col: pa.Array) -> pa.Array:
        return pa.array([document_violations(v) for v in _py_values(col)], type=_JSON_VIOLATIONS)

    return df.select(*id_cols, F.inline(kernel(F.col(json_col))))


def _message(violation: Violation) -> Message:
    """A violation tuple as the reference's ``Message``: ``type``, ``field``
    and, when the rule has parameters, ``expected``."""
    rule_name, path, expected = violation
    msg = Message(type=rule_name, field=path)
    parsed = parse_expected(expected)
    if parsed is not None:
        msg.add(expected=parsed)
    return msg


def validate(schema, document, message_values=None) -> list[Message]:
    """Drop-in for the reference's ``okay.validate`` — single document,
    driver-side (``/root/reference/src/okay/validator.py:7-16``).

    A user of the reference can switch ``from okay import validate`` to
    ``from okay_spark import validate`` and run their existing per-dict loop
    unchanged (same Message objects, same ordering, same ``message_values``
    stamping, same compile-once caching and SchemaError wrapping) — and then
    lift the same schema callable to tables via
    :func:`okay_spark.engine.validate_dataframe`. One divergence: extra
    attributes a custom validator sets on its Message (beyond
    type/field/expected) are not forwarded through the interpreter's
    violation tuples.
    """
    messages = [_message(v) for v in validate_document(compile_cached(schema), document)]
    if message_values:
        for m in messages:
            m.add(**message_values)
    return messages


__all__ = [
    "Index",
    "IndexEntry",
    "create_index",
    "validate",
    "validate_document",
    "validate_json",
]
