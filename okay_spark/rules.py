"""Lowering of compiled okay rules to native Spark Column expressions.

Every rule in the battery compiles to JVM-side Column expressions (whole-stage
codegen, zero per-row Python) — the distributed analogue of the reference's
type-validator callables (``/root/reference/src/okay/type_validators/``).
Semantics reproduced exactly (verified by differential tests):

- OR-semantics within one rule, AND across rules on a field
  (``string_validator.py:41``, ``number_validator.py:31``);
- failure-priority ladders: regex -> too_short -> too_long -> options
  (``string_validator.py:44-70``); too_small -> too_large -> options
  (``number_validator.py:34-53``);
- ``expected`` payloads carry *all* rule params including unset ones;
- ``bool`` passes ``int``/``number`` (``isinstance(True, int)``,
  ``int_validator.py:10``; ``number_validator.py:11``);
- a float with zero fraction is an ``int`` (``12.0`` passes,
  ``int_validator.py:10``);
- regex is a *fullmatch* (``string_validator.py:36``), so patterns are
  anchored ``(?U)\\A(?:...)\\z`` before hitting Spark's search-style
  ``rlike`` (``\\A/\\z`` because Java ``$`` also matches before a trailing
  newline; ``(?U)`` so ``\\d`` et al. are Unicode classes like Python's);
  a sound fixed-width native prefilter short-circuits the regex engine for
  the common all-ASCII passing rows (:func:`regex_fast_prefilter`).

okay is dynamically typed; Spark columns are statically typed. The type check
of each rule therefore resolves partly at *compile time*: a column whose Spark
type can never satisfy the okay type lowers to a constant ``invalid_type``
violation for non-null values; a type that sometimes satisfies it (double
under an ``int`` rule) lowers to a value-level predicate.

Documented divergences (SURVEY.md §2.3): NaN/±inf under an ``int`` rule yield
``invalid_type`` instead of the reference's uncaught OverflowError/ValueError;
NaN against ``number`` bounds or options follows Spark's ordering (above every
number, equal to itself) where the reference's ``Decimal`` comparison raises
InvalidOperation; ``number`` comparisons run in the column's native numeric
type rather than ``decimal.Decimal``. Regex patterns evaluate in Java's
dialect (``rlike``) ONLY when the pattern is in the shared subset (classes,
quantifiers, alternation, anchors — identical semantics); patterns using
Python-only constructs are detected at compile time
(``schema._PY_ONLY_REGEX``) and the rule auto-routes to the Arrow pass,
which runs Python ``re`` exactly
(:func:`is_arrow_routed`; enforced by tests/test_regex_dialect.py).
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
)

from .messages import expected_json
from .schema import Rule

try:  # CHAR/VARCHAR exist in Spark 3.4+/4.x
    from pyspark.sql.types import CharType, VarcharType

    _STRING_TYPES: tuple = (StringType, CharType, VarcharType)
except ImportError:  # pragma: no cover
    _STRING_TYPES = (StringType,)

_INTEGRAL_TYPES = (ByteType, ShortType, IntegerType, LongType)
_FRACTIONAL_TYPES = (FloatType, DoubleType)

VIOL_STRUCT_DDL = "struct<path:string,rule:string,expected:string,seq:bigint>"
VIOL_ARRAY_DDL = f"array<{VIOL_STRUCT_DDL}>"


def is_arrow_routed(rule: Rule) -> bool:
    """Rules whose BODY cannot lower to Column expressions and runs in the
    Arrow pass instead (:mod:`okay_spark.compat`): ``custom`` rules (arbitrary
    Python callables) and ``string`` rules whose regex uses Python-only
    dialect constructs (``schema._PY_ONLY_REGEX``). The native battery still
    emits their null checks; only the non-null body crosses to Python.
    Evaluated at plan-lowering time (driver-side, once per rule)."""
    if rule.type == "custom":
        return True
    if rule.type == "string":
        from .schema import _PY_ONLY_REGEX

        pattern = rule.params.get("regex")
        return pattern is not None and bool(_PY_ONLY_REGEX.search(pattern))
    return False


def null_violation() -> Column:
    """A typed NULL violation struct (used as the 'no violation' branch)."""
    return F.lit(None).cast(VIOL_STRUCT_DDL)


def empty_violations() -> Column:
    return F.array().cast(VIOL_ARRAY_DDL)


def make_violation(path: Column, rule_name: str, expected: dict | None, seq: int) -> Column:
    payload = expected_json(expected)
    return F.struct(
        path.cast("string").alias("path"),
        F.lit(rule_name).alias("rule"),
        (F.lit(payload) if payload is not None else F.lit(None).cast("string")).alias("expected"),
        F.lit(seq).cast("bigint").alias("seq"),
    )


# ---------------------------------------------------------------------------
# Type admission: can this Spark type satisfy the okay type?
# Returns True (always), False (never), or a Column predicate (value-level).
# ---------------------------------------------------------------------------

Admission = Union[bool, Column]


def _is_whole(value: Column) -> Column:
    # NaN % 1 and inf % 1 are NaN -> comparison false -> invalid_type,
    # the documented divergence for non-finite floats.
    return (value % F.lit(1.0)) == F.lit(0.0)


def type_admission(rule_type: str, dtype: DataType, value: Column) -> Admission:
    if rule_type in ("any", "custom"):
        return True
    if rule_type == "string":
        return isinstance(dtype, _STRING_TYPES)
    if rule_type == "bool":
        return isinstance(dtype, BooleanType)
    if rule_type == "number":
        return isinstance(
            dtype, (BooleanType, DecimalType) + _INTEGRAL_TYPES + _FRACTIONAL_TYPES
        )
    if rule_type == "int":
        if isinstance(dtype, (BooleanType,) + _INTEGRAL_TYPES):
            return True
        if isinstance(dtype, _FRACTIONAL_TYPES):
            return _is_whole(value)
        if isinstance(dtype, DecimalType):
            return True if dtype.scale == 0 else _is_whole(value)
        return False
    if rule_type == "list":
        return isinstance(dtype, ArrayType)
    if rule_type == "object":
        return isinstance(dtype, (StructType, MapType))
    return False


# ---------------------------------------------------------------------------
# Parameter checks (value already non-null and type-admitted)
# ---------------------------------------------------------------------------


_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def _exact_bound(bound, dtype: DataType, kind: str):
    """Rewrite a min/max bound into a literal whose NATIVE comparison against
    a ``dtype`` column is exact — matching the reference's Decimal coercion
    (``number_validator.py:20``) — or a bool sentinel (vacuously pass/fail).

    Spark compares a bigint column against a float bound by promoting the
    column to double, which is lossy above 2**53: ``v = 2**53 + 3`` rounds to
    ``2**53 + 2`` and slips under ``min = float(2**53 + 4)`` that the exact
    comparison fails. The reference's Decimal comparison is exact, so:

    - integral columns get integer thresholds (``ceil``/``floor`` of the
      exact ``Fraction`` of a float bound), clamped to the long range;
    - fractional columns get double thresholds snapped with ``nextafter`` so
      a pure double comparison reproduces the exact real-number comparison
      against an unrepresentable int bound.

    ``kind`` is ``'lo'`` (value >= bound) or ``'hi'`` (value <= bound)."""
    import math
    from fractions import Fraction

    if isinstance(bound, bool):
        bound = int(bound)
    if isinstance(dtype, (BooleanType,) + _INTEGRAL_TYPES):
        if isinstance(bound, float):
            if math.isnan(bound):
                return False  # NaN comparisons are False in both engines
            if math.isinf(bound):
                return (bound < 0) if kind == "lo" else (bound > 0)
            f = Fraction(bound)
            b = math.ceil(f) if kind == "lo" else math.floor(f)
        elif isinstance(bound, int):
            b = bound
        else:
            return bound  # Decimal etc.: documented divergence, unchanged
        if b > _LONG_MAX:
            return kind != "lo"
        if b < _LONG_MIN:
            return kind == "lo"
        return b
    if isinstance(dtype, _FRACTIONAL_TYPES) and isinstance(bound, int):
        try:
            d = float(bound)
        except OverflowError:
            d = math.inf if bound > 0 else -math.inf
        if kind == "lo":
            # smallest double >= bound (doubles below it are all < bound)
            return d if math.isinf(d) or Fraction(d) >= bound else math.nextafter(d, math.inf)
        return d if math.isinf(d) or Fraction(d) <= bound else math.nextafter(d, -math.inf)
    return bound


def _exact_options(options, dtype: DataType):
    """Keep only options an exact (reference-Decimal) equality could match,
    converted so the native comparison is exact; see ``_exact_bound``."""
    import math
    from fractions import Fraction

    if options is None or not isinstance(
        dtype, (BooleanType,) + _INTEGRAL_TYPES + _FRACTIONAL_TYPES
    ):
        return options
    integral = isinstance(dtype, (BooleanType,) + _INTEGRAL_TYPES)
    out = []
    for o in options:
        if isinstance(o, bool):
            o = int(o)
        if integral:
            if isinstance(o, float):
                if not (math.isfinite(o) and o.is_integer()):
                    continue
                o = int(o)
            if isinstance(o, int) and _LONG_MIN <= o <= _LONG_MAX:
                out.append(o)
        else:
            if isinstance(o, int):
                try:
                    d = float(o)
                except OverflowError:
                    continue
                if Fraction(d) != o:
                    continue  # no double equals this int exactly
                o = d
            if isinstance(o, float):
                out.append(o)
    return out


def _numeric_params_check(
    rule: Rule, value: Column, dtype: DataType, path: Column, seq: int
) -> Column:
    p = rule.params
    lo, hi, options = p.get("min"), p.get("max"), p.get("options")
    if lo is None and hi is None and options is None:
        return null_violation()

    v = value.cast("int") if isinstance(dtype, BooleanType) else value

    def bound_pred(bound, kind, cmp, other) -> Column:
        if bound is None:
            return F.lit(other is not None)
        b = _exact_bound(bound, dtype, kind)
        if isinstance(b, bool):
            return F.lit(b)
        return cmp(v, F.lit(b))

    pass_min = bound_pred(lo, "lo", lambda c, b: c >= b, hi)
    pass_max = bound_pred(hi, "hi", lambda c, b: c <= b, lo)
    opts = _exact_options(options, dtype)
    pass_opt = v.isin(*opts) if opts else F.lit(False)
    ok = pass_opt | (pass_min & pass_max)

    expected = {"min": lo, "max": hi, "options": options}
    ladder = null_violation()
    if options is not None:
        ladder = make_violation(path, "invalid_number_option", expected, seq)
    if hi is not None:
        ladder = F.when(~pass_max, make_violation(path, "number_too_large", expected, seq)).otherwise(ladder)
    if lo is not None:
        ladder = F.when(~pass_min, make_violation(path, "number_too_small", expected, seq)).otherwise(ladder)
    return F.when(ok, null_violation()).otherwise(ladder)


def _regex_to_fixed_segments(pattern: str):
    """Parse ``pattern`` into fixed-width segments, or None when it uses any
    construct outside the supported subset.

    Supported: ASCII literal characters (plus escaped punctuation), ``\\d``,
    simple positive ASCII character classes ``[...]`` with ranges, and fixed
    ``{n}`` quantifiers on any of those. Anything else — alternation,
    groups, variable quantifiers, other escapes, anchors — bails to the
    regex engine. Returns ``[(kind, payload, width)]`` with kind in
    {'lit', 'set'} ('set' payload = the allowed characters)."""
    DIGITS = "0123456789"
    SPECIAL = set(".^$*+?{}[]()|\\")
    segs: list[tuple[str, str, int]] = []
    i, n = 0, len(pattern)

    def quant() -> int | None:
        nonlocal i
        if i < n and pattern[i] in "*+?":
            return None
        if i < n and pattern[i] == "{":
            j = pattern.find("}", i)
            body = pattern[i + 1 : j] if j > 0 else ""
            if not body.isdigit() or int(body) == 0:
                return None
            i = j + 1
            return int(body)
        return 1

    def char_class(body: str) -> str | None:
        if not body or body[0] == "^":
            return None
        out: list[str] = []
        k = 0
        while k < len(body):
            c = body[k]
            if c == "\\" or ord(c) > 126:
                return None
            if k + 2 < len(body) and body[k + 1] == "-":
                lo_c, hi_c = body[k], body[k + 2]
                if hi_c == "\\" or ord(lo_c) > ord(hi_c) or ord(hi_c) > 126:
                    return None
                out.extend(chr(x) for x in range(ord(lo_c), ord(hi_c) + 1))
                k += 3
            else:
                out.append(c)
                k += 1
        return "".join(out)

    while i < n:
        ch = pattern[i]
        if ch == "\\":
            if i + 1 >= n:
                return None
            nxt = pattern[i + 1]
            i += 2
            if nxt == "d":
                q = quant()
                if q is None:
                    return None
                segs.append(("set", DIGITS, q))
            elif not nxt.isalnum():  # escaped punctuation = literal
                q = quant()
                if q is None:
                    return None
                segs.append(("lit", nxt * q, q))
            else:  # \w \s \b \A ... -> regex engine
                return None
        elif ch == "[":
            j = pattern.find("]", i + 1)
            if j < 0:
                return None
            chars = char_class(pattern[i + 1 : j])
            if chars is None:
                return None
            i = j + 1
            q = quant()
            if q is None:
                return None
            segs.append(("set", chars, q))
        elif ch in SPECIAL:
            return None
        elif ord(ch) > 126:
            return None
        else:
            i += 1
            q = quant()
            if q is None:
                return None
            segs.append(("lit", ch * q, q))
    return segs


def regex_fast_prefilter(pattern: str, value: Column) -> Column | None:
    """A cheap native predicate that is TRUE only for strings the pattern
    definitely fullmatches (sound subset; never a false positive), or None
    when the pattern is outside the supported fixed-width subset.

    Used as a short-circuit in front of ``rlike``: on validation workloads
    most values PASS their pattern, so the regex engine runs only for the
    residual rows (measured ~26% of the interleaved battery reclaimed). The
    prefilter checks ASCII forms only — non-ASCII strings (e.g. Unicode
    digits, which Python ``\\d`` accepts) fall through to the exact
    ``(?U)``-flagged regex, so semantics are unchanged."""
    segs = _regex_to_fixed_segments(pattern)
    if not segs:
        return None
    # merge adjacent literal runs
    merged: list[tuple[str, str, int]] = []
    for kind, payload, width in segs:
        if merged and kind == "lit" and merged[-1][0] == "lit":
            pk, pp, pw = merged[-1]
            merged[-1] = ("lit", pp + payload, pw + width)
        else:
            merged.append((kind, payload, width))
    total = sum(w for _, _, w in merged)
    conds = [F.length(value) == F.lit(total)]
    pos = 1
    for kind, payload, width in merged:
        sub = F.substring(value, pos, width)
        if kind == "lit":
            conds.append(sub == F.lit(payload))
        else:
            conds.append(F.translate(sub, payload, "") == F.lit(""))
        pos += width
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def anchored_java_pattern(pattern: str) -> str:
    """The Java-regex form of okay's Python ``re.fullmatch(pattern, value)``:

    - ``\\A...\\z`` (NOT ``^...$``: Java ``$`` also matches before a final
      newline, so ``^abc$`` would accept ``'abc\\n'`` that the reference
      rejects);
    - ``(?U)`` so ``\\d``/``\\w``/``\\s`` use Unicode classes like Python's
      (Java defaults them to ASCII: ``'١٢٣'`` must match ``\\d+``).
    Both verified by execution against the reference
    (tests/test_regex_dialect.py)."""
    return f"(?U)\\A(?:{pattern})\\z"


def _string_params_check(rule: Rule, value: Column, path: Column, seq: int) -> Column:
    p = rule.params
    pattern, options = p.get("regex"), p.get("options")
    case_sensitive = p.get("case_sensitive", True)
    lo, hi = p.get("min"), p.get("max")
    if pattern is None and options is None and lo is None and hi is None:
        return null_violation()

    length = F.length(value)
    if pattern is not None:
        pass_regex = value.rlike(anchored_java_pattern(pattern))
        fast = regex_fast_prefilter(pattern, value)
        if fast is not None:
            # codegen's boolean OR short-circuits: the regex engine runs only
            # for rows the cheap fixed-width check doesn't already accept
            pass_regex = fast | pass_regex
    else:
        pass_regex = F.lit(False)
    pass_min = (length >= F.lit(lo)) if lo is not None else F.lit(hi is not None)
    pass_max = (length <= F.lit(hi)) if hi is not None else F.lit(lo is not None)
    if options:
        pass_opt = value.isin(*options) if case_sensitive else F.lower(value).isin(*options)
    else:
        pass_opt = F.lit(False)
    ok = pass_regex | pass_opt | (pass_min & pass_max)

    expected = {
        "case_sensitive": case_sensitive if options is not None else None,
        "max": hi,
        "min": lo,
        "options": options,
        "regex": pattern,
    }
    ladder = null_violation()
    if options is not None:
        ladder = make_violation(path, "invalid_string_option", expected, seq)
    if hi is not None:
        ladder = F.when(~pass_max, make_violation(path, "string_too_long", expected, seq)).otherwise(ladder)
    if lo is not None:
        ladder = F.when(~pass_min, make_violation(path, "string_too_short", expected, seq)).otherwise(ladder)
    if pattern is not None:
        ladder = F.when(~pass_regex, make_violation(path, "no_match", expected, seq)).otherwise(ladder)
    return F.when(ok, null_violation()).otherwise(ladder)


def _list_params_check(rule: Rule, value: Column, path: Column, seq: int) -> Column:
    lo, hi = rule.params.get("min"), rule.params.get("max")
    if lo is None and hi is None:
        return null_violation()
    n = F.size(value)
    expected = {"min": lo, "max": hi}
    result = null_violation()
    if hi is not None:
        result = F.when(n > F.lit(hi), make_violation(path, "too_many_elements", expected, seq)).otherwise(result)
    if lo is not None:
        result = F.when(n < F.lit(lo), make_violation(path, "too_few_elements", expected, seq)).otherwise(result)
    return result


# ---------------------------------------------------------------------------
# Full lowering of one rule at one instance
# ---------------------------------------------------------------------------

_INVALID_TYPE_NAME = {
    "int": "int",
    "number": "number",
    "string": "string",
    "bool": "bool",
    "list": "list",
    "object": "object",
}


def lower_rule_nonnull(
    rule: Rule, value: Column, dtype: DataType, path: Column, seq: int
) -> Column:
    """Violation-struct-or-NULL for a non-null instance value."""
    if rule.type in ("any", "custom"):
        # any: no-op beyond the null check; custom: evaluated by the Arrow
        # pass in okay_spark.compat (engine merges its violations).
        return null_violation()

    admission = type_admission(rule.type, dtype, value)
    invalid = make_violation(
        path, "invalid_type", {"type": _INVALID_TYPE_NAME[rule.type]}, seq
    )
    if admission is False:
        return invalid

    if rule.type in ("int", "number"):
        params_check = _numeric_params_check(rule, value, dtype, path, seq)
    elif rule.type == "string":
        params_check = _string_params_check(rule, value, path, seq)
    elif rule.type == "list":
        params_check = _list_params_check(rule, value, path, seq)
    else:  # bool, object: type check only
        params_check = null_violation()

    if admission is True:
        return params_check
    return F.when(admission, params_check).otherwise(invalid)


def lower_checks(
    value: Column,
    dtype: DataType,
    path: Column,
    rules: list[tuple[int, Rule]],
    *,
    exists: Column | None = None,
    value_never_null: bool = False,
) -> list[Column]:
    """One nullable violation column per rule for one instance.

    Reproduces the reference's scan loop (``validator.py:44-58``): a null
    value yields ``null_value`` per non-nullable rule (expected =
    ``{'type': rule.type}``); non-null values run the rule body. Custom rules
    contribute only their null check here (their body runs in the Arrow pass).
    ``exists`` guards instances that may be absent (null ancestors, missing
    map keys) — absent instances check nothing.
    """
    checks: list[Column] = []
    for seq, rule in rules:
        body = (
            null_violation()
            if is_arrow_routed(rule)
            else lower_rule_nonnull(rule, value, dtype, path, seq)
        )
        if value_never_null:
            check = body
        else:
            if rule.nullable:
                null_branch = null_violation()
            else:
                null_branch = make_violation(path, "null_value", {"type": rule.type}, seq)
            check = F.when(value.isNull(), null_branch).otherwise(body)
        if exists is not None:
            check = F.when(exists, check)
        checks.append(check)
    return checks
