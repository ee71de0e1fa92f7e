"""Standalone per-value type validators — the reference's operator-level API.

The reference exposes each type check as a callable class
(``/root/reference/src/okay/type_validators/__init__.py:1-8``) constructed
with rule params and invoked with ``(field, value) -> Message | None``; 66 of
its unit tests exercise them directly (SURVEY.md §3.3). These classes give
okay_spark the same surface, delegating to the SAME rule interpreters the
Arrow path uses (:mod:`okay_spark.dynamic`), so the per-value and columnar
semantics cannot drift apart. ``scripts/reference_suite.py`` runs the
reference's own validator unit tests against these classes unmodified.

Also here: :func:`compile` — a reference-shaped view of a compiled schema
(``fields[path].strictness/.nullable/.rules[i].validate``) so the
reference's schema-compiler tests run against our compiler.
"""

from __future__ import annotations

from typing import Any

from .dynamic import _call_custom, _check_rule, _message
from .messages import Message
from .schema import Rule, _normalize_params, compile_schema


class _TypeValidator:
    """Common shell: normalize params eagerly (reference validators compile
    regexes / fold options / reject bad kwargs at build time), check lazily
    via the shared interpreter."""

    type_name = "any"

    def __init__(self, field: str | None = None, **kwargs: Any):
        self.field = field
        self.params = _normalize_params(self.type_name, field or ".", kwargs)
        self._rule = Rule(type=self.type_name, nullable=False, implicit=False, params=self.params)

    def __call__(self, field: str, value: Any) -> Message | None:
        v = _check_rule(self._rule, field, value)
        return None if v is None else _message(v)


class AnyValidator(_TypeValidator):
    type_name = "any"


class BoolValidator(_TypeValidator):
    type_name = "bool"


class IntValidator(_TypeValidator):
    type_name = "int"


class NumberValidator(_TypeValidator):
    type_name = "number"


class StringValidator(_TypeValidator):
    type_name = "string"


class ListValidator(_TypeValidator):
    type_name = "list"


class ObjectValidator(_TypeValidator):
    type_name = "object"


class CustomValidator:
    """Wraps a user callable; construction-time errors for missing/bad
    ``validator``, call-time SchemaError (cause preserved) for raising or
    invalid-return functions (``custom_validator.py:4-26``)."""

    type_name = "custom"

    def __init__(self, field: str | None = None, **kwargs: Any):
        self.field = field
        self.params = _normalize_params("custom", field or ".", kwargs)
        self._fn = self.params["validator"]
        self._kwargs = self.params["kwargs"]

    def __call__(self, field: str, value: Any) -> Message | None:
        return _call_custom(self._fn, self._kwargs, field, value, self.field)


_VALIDATOR_CLASSES = {
    "any": AnyValidator,
    "bool": BoolValidator,
    "int": IntValidator,
    "number": NumberValidator,
    "string": StringValidator,
    "list": ListValidator,
    "object": ObjectValidator,
    "custom": CustomValidator,
}


class _RuleView:
    """Reference-shaped ``Rule``: ``(type, nullable, is_implicit, validate)``
    (``schema_compiler.py:146-151``)."""

    def __init__(self, path: str, rule: Rule):
        self.type = rule.type
        self.nullable = rule.nullable
        self.is_implicit = rule.implicit
        cls = _VALIDATOR_CLASSES[rule.type]
        if rule.type == "custom":
            self.validate = cls(path, validator=rule.params["validator"], **rule.params["kwargs"])
        else:
            self.validate = cls(path, **{k: v for k, v in rule.params.items() if v is not None})


class _FieldView:
    def __init__(self, path: str, spec):
        self.strictness = spec.strictness
        self.nullable = spec.nullable
        self.rules = [_RuleView(path, r) for r in spec.rules]


class _SchemaView:
    def __init__(self, compiled):
        self.fields = {p: _FieldView(p, s) for p, s in compiled.fields.items()}
        self.ignore_extra_fields = compiled.ignore_extra_fields


def compile(schema_fn) -> _SchemaView:  # noqa: A001 - reference API name
    """Reference-shaped ``compile`` (``schema_compiler.py:7-12``): returns an
    object whose ``fields[path]`` carries ``strictness``/``nullable``/``rules``
    with instantiated ``validate`` callables."""
    return _SchemaView(compile_schema(schema_fn))


__all__ = [
    "AnyValidator",
    "BoolValidator",
    "IntValidator",
    "NumberValidator",
    "StringValidator",
    "ListValidator",
    "ObjectValidator",
    "CustomValidator",
    "compile",
]
