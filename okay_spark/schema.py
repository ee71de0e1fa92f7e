"""Schema DSL and driver-side compiler (reference operators O1-O4).

API-identical to the reference's DSL (``required`` / ``optional`` /
``ignore_extra_fields``, ``/root/reference/src/okay/schema.py:1-2``): a schema
is a parameterless callable that imperatively declares field paths. Compiling
runs the callable and produces a plain-data :class:`CompiledSchema` — a rule
table keyed by field path — which is cheap to broadcast to executors. Nothing
in this module touches Spark.

Behavioral contract (verified against the reference by execution, see
``tests/test_schema_compiler.py``):

- declaring a path creates implicit ``object``/``list`` rules up the parent
  chain (``/root/reference/src/okay/schema_compiler.py:30-61``);
- ``type='list'`` also stamps strictness on the ``name[]`` element field
  *before* the field itself (``schema_compiler.py:41-42``), which fixes the
  field-table insertion order the missing-field pass later iterates in;
- strictness and nullability conflicts raise ``SchemaError`` with the
  reference's exact error taxonomy (``schema_compiler.py:63-89``);
- an explicit ``object``/``list`` rule replaces the implicit one.

Documented divergence: the reference's ``Field.remove_implicit_rule_for``
(``schema_compiler.py:143``) has a latent ``NameError`` (undefined ``rules``
in the comprehension body) that crashes whenever the field holds any other
rule; we implement the intended behavior (drop only the implicit rule of that
type, keep the rest).
"""

from __future__ import annotations

import re
import threading
from dataclasses import dataclass, field as dc_field
from typing import Any, Callable

from .errors import SchemaError

# Regex constructs that exist only in Python's `re` dialect (or carry
# different semantics in Java's): named groups/backrefs `(?P<..>`/`(?P=..)`,
# comments `(?#...)`, conditional groups `(?(id)...)`, Python-only inline
# flags a/u/L, and `\Z` (absolute end in Python; before-final-newline in
# Java). The reference evaluates patterns with Python `re.fullmatch`
# (string_validator.py:7,36); the columnar battery runs Java `rlike` — rules
# whose pattern matches this detector are auto-routed to the Arrow pass so
# they run under Python `re` exactly. The common subset (classes,
# quantifiers, alternation, anchors, plain groups, shared inline flags)
# stays on the JVM fast path.
_PY_ONLY_REGEX = re.compile(
    r"""
    \(\?P[<=]                      # (?P<name>...) / (?P=name)
  | \(\?\#                         # (?#comment)
  | \(\?\(                         # (?(id/name)yes|no) conditional
  | \(\?[aiLmsux\-]*[auL][aiLmsux\-]*[):]   # inline flags incl. a/u/L
  | (?<!\\)(?:\\\\)*\\Z            # \Z (odd number of backslashes before Z)
    """,
    re.VERBOSE,
)

_STRUCTURAL = ("object", "list")


@dataclass
class Rule:
    """One validation rule on a field: ``(type, nullable, implicit, params)``.

    Mirrors the reference's ``Rule`` (``schema_compiler.py:146-151``) but
    stores *normalized parameters* instead of a closure, so the whole schema
    compiles to broadcastable plain data; the Spark lowering in
    ``okay_spark.rules`` turns params into Column expressions.
    """

    type: str
    nullable: bool
    implicit: bool
    params: dict[str, Any] = dc_field(default_factory=dict)


@dataclass
class FieldSpec:
    strictness: str = "unknown"  # 'required' | 'optional' | 'unknown'
    nullable: bool = False
    rules: list[Rule] = dc_field(default_factory=list)

    def has_explicit_type(self) -> bool:
        return any(not r.implicit for r in self.rules)

    def has_rule_for(self, type_name: str) -> bool:
        return any(r.type == type_name for r in self.rules)

    def is_nullable_object(self) -> bool:
        return any(r.type == "object" and r.nullable for r in self.rules)

    def drop_implicit_rule(self, type_name: str) -> None:
        self.rules = [r for r in self.rules if r.type != type_name or not r.implicit]


@dataclass
class CompiledSchema:
    fields: dict[str, FieldSpec] = dc_field(default_factory=dict)
    ignore_extra_fields: bool = False

    def field(self, path: str) -> FieldSpec:
        spec = self.fields.get(path)
        if spec is None:
            spec = self.fields[path] = FieldSpec()
        return spec


# ---------------------------------------------------------------------------
# Rule-parameter normalization (mirrors the type-validator constructors,
# /root/reference/src/okay/type_validators/*.py — errors raise at compile time)
# ---------------------------------------------------------------------------


def _reject_unknown(type_name: str, field_name: str, kwargs: dict, allowed: set[str]) -> None:
    unknown = set(kwargs) - allowed
    if unknown:
        # The reference's validator constructors raise TypeError on unexpected
        # keyword arguments; keep the same exception class so callers that
        # wrap compile errors behave identically.
        raise TypeError(
            f"{type_name} rule for field '{field_name}' got unexpected parameters: "
            + ", ".join(sorted(unknown))
        )


def _normalize_params(type_name: str, field_name: str, kwargs: dict[str, Any]) -> dict[str, Any]:
    if type_name in ("any", "bool"):
        # AnyValidator/BoolValidator accept and ignore arbitrary kwargs
        # (any_validator.py:4, bool_validator.py:4).
        return {}
    if type_name == "object":
        # ObjectValidator takes no parameters (object_validator.py:4).
        _reject_unknown(type_name, field_name, kwargs, set())
        return {}
    if type_name == "list":
        _reject_unknown(type_name, field_name, kwargs, {"min", "max"})
        return {"min": kwargs.get("min"), "max": kwargs.get("max")}
    if type_name in ("int", "number"):
        _reject_unknown(type_name, field_name, kwargs, {"min", "max", "options"})
        return {
            "min": kwargs.get("min"),
            "max": kwargs.get("max"),
            "options": kwargs.get("options"),
        }
    if type_name == "string":
        _reject_unknown(
            type_name, field_name, kwargs, {"regex", "options", "case_sensitive", "min", "max"}
        )
        pattern = kwargs.get("regex")
        if pattern is not None:
            re.compile(pattern)  # validate eagerly, like string_validator.py:7
        case_sensitive = kwargs.get("case_sensitive", True)
        options = kwargs.get("options")
        if options and not case_sensitive:
            # okay folds the options once at build time (string_validator.py:10-13).
            options = [o.lower() for o in options]
        # NOTE: params stay exactly reference-shaped (they are re-fed into the
        # reference-API validator constructors by okay_spark.validators).
        # Python-dialect regex detection happens at lowering time
        # (okay_spark.rules.is_arrow_routed consults _PY_ONLY_REGEX), not via
        # an extra params key.
        return {
            "regex": pattern,
            "options": options,
            "case_sensitive": case_sensitive,
            "min": kwargs.get("min"),
            "max": kwargs.get("max"),
        }
    if type_name == "custom":
        # custom_validator.py:6-11 — same error messages for parity.
        if "validator" not in kwargs:
            raise SchemaError(f"No custom validation function specified for field '{field_name}'.")
        fn = kwargs["validator"]
        if not callable(fn):
            raise SchemaError(
                f"Custom validation function specified for field '{field_name}' is not callable."
            )
        # `arrow_fields` is an ENGINE-ONLY extension (not okay API): the
        # declared read-set of the callable. The engine then ships only those
        # struct fields across the Arrow boundary (column pruning for custom
        # rules); it is consumed here and never forwarded to the callable.
        arrow_fields = kwargs.get("arrow_fields")
        if arrow_fields is not None and (
            not isinstance(arrow_fields, (list, tuple))
            or not all(isinstance(f, str) for f in arrow_fields)
        ):
            raise SchemaError(
                f"arrow_fields for field '{field_name}' must be a list of field names."
            )
        extra = {k: v for k, v in kwargs.items() if k not in ("validator", "arrow_fields")}
        return {
            "validator": fn,
            "kwargs": extra,
            "arrow_fields": list(arrow_fields) if arrow_fields is not None else None,
        }
    raise SchemaError(f"Type `{type_name}` specified for field `{field_name}` is invalid.")


# ---------------------------------------------------------------------------
# The DSL (module-global active builder, like the reference's _active_schema)
# ---------------------------------------------------------------------------

_local = threading.local()


def _active() -> CompiledSchema:
    schema = getattr(_local, "schema", None)
    if schema is None:
        raise SchemaError("required()/optional() called outside of schema compilation.")
    return schema


def required(field_name: str, type: str | None = None, **kwargs: Any) -> None:
    _declare(field_name, type, is_required=True, **kwargs)


def optional(field_name: str, type: str | None = None, **kwargs: Any) -> None:
    if field_name == ".":
        raise SchemaError(
            "Root cannot be optional.", type="optional_not_allowed", field="."
        )
    _declare(field_name, type, is_required=False, **kwargs)


def ignore_extra_fields() -> None:
    _active().ignore_extra_fields = True


def _parent_of(field_name: str, strictness: str) -> tuple[str | None, str | None, str | None]:
    """Next node up the parent chain (``schema_compiler.py:98-106``)."""
    if field_name == ".":
        return None, None, None
    if field_name.endswith("[]"):
        return field_name[:-2], "list", strictness
    if "." in field_name:
        return field_name.rsplit(".", 1)[0], "object", "unknown"
    return ".", "object", "required"


def _check_conflicts(
    spec: FieldSpec, field_name: str, strictness: str, nullable: bool, implicit: bool
) -> None:
    if spec.strictness == "required" and strictness == "optional":
        raise SchemaError(
            f"Field '{field_name}' marked as optional, but it's already required.",
            type="already_required",
            field=field_name.strip("[]"),
        )
    if spec.strictness == "optional" and strictness == "required":
        raise SchemaError(
            f"Field '{field_name}' marked as required, but it's already optional.",
            type="already_optional",
            field=field_name.strip("[]"),
        )
    if not implicit and spec.has_explicit_type() and spec.nullable != nullable:
        if nullable:
            raise SchemaError(
                f"Field '{field_name}' marked as nullable, but it's already non-nullable.",
                type="already_non_nullable",
                field=field_name.strip("[]"),
            )
        raise SchemaError(
            f"Field '{field_name}' marked as non-nullable, but it's already nullable.",
            type="already_nullable",
            field=field_name.strip("[]"),
        )


def _declare(field_name: str, type_name: str | None, is_required: bool, **kwargs: Any) -> None:
    schema = _active()

    if type_name is not None:
        nullable = type_name.endswith("?")
        implicit = False
        type_name = type_name.rstrip("?")
    else:
        type_name, nullable, implicit = "any", False, True

    strictness = "required" if is_required else "optional"
    if type_name == "list":
        # Element strictness follows the list declaration (unconditional
        # overwrite, schema_compiler.py:41-42); doing this first also fixes
        # field-table order: 'name[]' precedes 'name'.
        schema.field(field_name + "[]").strictness = strictness

    current: str | None = field_name
    while current:
        spec = schema.field(current)
        _check_conflicts(spec, current, strictness, nullable, implicit)

        if not implicit and type_name in _STRUCTURAL:
            spec.drop_implicit_rule(type_name)
        if not (type_name in _STRUCTURAL and implicit and spec.has_rule_for(type_name)):
            params = _normalize_params(type_name, current, kwargs)
            spec.rules.append(Rule(type_name, nullable, implicit, params))

        spec.nullable = spec.nullable or nullable
        if spec.strictness == "unknown":
            spec.strictness = strictness

        current, type_name, strictness = _parent_of(current, strictness)
        nullable, kwargs, implicit = False, {}, True


# ---------------------------------------------------------------------------
# Compilation entry points
# ---------------------------------------------------------------------------


def compile_schema(schema_fn: Callable[[], None]) -> CompiledSchema:
    """Run the schema callable and return its compiled rule table.

    Exceptions raised by the schema body (including conflict
    ``SchemaError``\\ s) propagate, matching the reference's bare ``compile``
    (``schema_compiler.py:7-12``); use :func:`compile_cached` for the wrapped
    behavior of ``validate()``.
    """
    previous = getattr(_local, "schema", None)
    _local.schema = CompiledSchema()
    try:
        schema_fn()
        return _local.schema
    finally:
        _local.schema = previous


_compile_cache: dict[Any, CompiledSchema] = {}


def compile_cached(schema_fn: Callable[[], None] | CompiledSchema) -> CompiledSchema:
    """Compile-once cache keyed by schema-callable identity, wrapping any
    error like the reference's validator (``validator.py:26-32``). A
    :class:`CompiledSchema` is returned unchanged, so every entry point that
    takes either form coerces it here."""
    if isinstance(schema_fn, CompiledSchema):
        return schema_fn
    if schema_fn not in _compile_cache:
        try:
            _compile_cache[schema_fn] = compile_schema(schema_fn)
        except Exception as e:  # noqa: BLE001 - parity with reference
            raise SchemaError(f"Schema raised `{type(e).__name__}`.") from e
    return _compile_cache[schema_fn]
