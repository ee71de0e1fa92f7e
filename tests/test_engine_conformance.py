"""End-to-end conformance: the columnar engine vs the reference validator.

Each case carries (schema declarations, a Spark DDL schema, rows). The engine
validates the DataFrame; the oracle (the reference okay, run per row on
``Row.asDict(recursive=True)``) validates the same documents. Per-document
violation SETS ``(type, path, expected)`` must match exactly — the lift of the
reference's 87 golden ``test_validator.py`` assertions onto tables.

Cases avoid the two verified reference crashes (SURVEY.md §2.3 + engine.py
docstring): null list elements under declared element children
(RuntimeError), and inf/nan under int rules (OverflowError/ValueError) —
those engine behaviors get dedicated divergence tests at the bottom.
"""

from __future__ import annotations

from collections import Counter

import pytest

from okay_spark import compile_schema
from okay_spark.engine import validate_dataframe
from okay_spark.messages import parse_expected

ID = "_id"


def case(name, decls, ddl, rows):
    return pytest.param(decls, ddl, rows, id=name)


CASES = [
    # --- flat scalar rules -------------------------------------------------
    case(
        "string_params_ladder",
        [("required", "s", "string", {"regex": r"[a-z]+\d", "min": 3, "max": 5})],
        "s string",
        [("ab1",), ("x",), ("toolong7",), ("ABC",), (None,), ("abcd9",)],
    ),
    case(
        "string_options_ci",
        [("required", "s", "string", {"options": ["Foo", "BAR"], "case_sensitive": False})],
        "s string",
        [("foo",), ("BaR",), ("baz",), (None,)],
    ),
    case(
        "string_options_cs",
        [("optional", "s", "string", {"options": ["a", "b"]})],
        "s string",
        [("a",), ("A",), (None,)],
    ),
    case(
        "string_min_only_or_max_only",
        [("required", "a", "string", {"min": 2}), ("required", "b", "string", {"max": 2})],
        "a string, b string",
        [("x", "xyz"), ("xy", "xy")],
    ),
    case(
        # unicode parity: Python str.lower/len vs JVM lower/length must agree
        # on folding (ß/ẞ, Greek final sigma, Turkish İ) and code-point length
        # (astral emoji, fullwidth forms)
        "string_unicode_folding_and_length",
        [
            ("required", "s", "string", {"options": ["é", "ß", "İ", "σ"], "case_sensitive": False}),
            ("optional", "t", "string", {"min": 2, "max": 3}),
        ],
        "s string, t string",
        [
            ("É", "🙂🙂"),
            ("ẞ", "a🙂b"),
            ("ς", "é"),
            ("İ", "日本語テキスト"),
            ("ı", "ｆｕｌｌ"),
            ("SS", None),
        ],
    ),
    case(
        "string_type_only",
        [("required", "s", "string", {})],
        "s string",
        [("anything",), (None,)],
    ),
    case(
        "string_on_int_column",
        [("required", "s", "string", {"min": 1})],
        "s int",
        [(5,), (None,)],
    ),
    case(
        "int_on_double_column",
        [("required", "n", "int", {"min": 3})],
        "n double",
        [(12.0,), (2.5,), (1.0,), (None,), (-4.0,)],
    ),
    case(
        "int_on_long_column",
        [("required", "n", "int", {"min": 0, "max": 10, "options": [42]})],
        "n bigint",
        [(5,), (-1,), (11,), (42,), (None,)],
    ),
    case(
        "int_on_bool_column",
        [("required", "n", "int", {"min": 3})],
        "n boolean",
        [(True,), (False,), (None,)],
    ),
    case(
        "number_ladder",
        [("required", "n", "number", {"min": 0, "max": 1})],
        "n double",
        [(0.5,), (-0.1,), (1.5,), (None,)],
    ),
    case(
        "number_options",
        [("required", "n", "number", {"options": [1, 2.5]})],
        "n double",
        [(1.0,), (2.5,), (3.0,)],
    ),
    case(
        "number_options_bool",
        [("required", "n", "number", {"options": [1, 2.5]})],
        "n boolean",
        [(True,), (False,)],
    ),
    case(
        "number_on_string_column",
        [("required", "n", "number", {"min": 1})],
        "n string",
        [("5",)],
    ),
    case(
        # exactness above 2**53: a naive long->double promotion rounds
        # 2**53+3 up to 2**53+4 and 2**53+5 down to 2**53+4, silently
        # passing bounds the reference's Decimal comparison fails
        # (number_validator.py:20); integer thresholds keep it exact
        "number_exact_bounds_above_2pow53",
        [
            ("required", "n", "number", {"min": float(2**53 + 4)}),
            ("required", "m", "number", {"max": float(2**53 + 4)}),
            ("required", "k", "int", {"options": [float(2**53)]}),
        ],
        "n bigint, m bigint, k bigint",
        [
            (2**53 + 3, 2**53 + 5, 2**53),
            (2**53 + 4, 2**53 + 4, 2**53 + 1),
            (2**53 + 5, 2**53 + 3, 2**53 + 2),
        ],
    ),
    case(
        # int bound not representable as a double: the double threshold is
        # snapped with nextafter so the pure double comparison reproduces
        # the reference's exact real-number comparison
        "number_exact_int_bound_on_double",
        [
            ("required", "x", "number", {"max": 2**53 + 3}),
            ("required", "y", "number", {"min": 2**53 + 3}),
        ],
        "x double, y double",
        [
            (float(2**53 + 4), float(2**53 + 2)),
            (float(2**53 + 2), float(2**53 + 4)),
        ],
    ),
    case(
        # bounds beyond the long range (and beyond double range) clamp to
        # vacuous pass/fail instead of overflowing the literal
        "number_bounds_beyond_long_range",
        [
            ("required", "a", "number", {"min": 2**70}),
            ("required", "b", "number", {"max": -(2**70)}),
            ("required", "c", "number", {"min": -(2**70), "max": 2**70}),
            ("required", "d", "number", {"min": 10**400}),
        ],
        "a bigint, b bigint, c bigint, d double",
        [
            (5, -5, 7, 1.0e308),
            (2**62, -(2**62), -(2**62), float("inf")),
        ],
    ),
    case(
        "bool_rule",
        [("required", "b", "bool", {})],
        "b boolean, c int",
        [(True, 1), (None, 2)],
    ),
    case(
        "bool_rule_wrong_type",
        [("required", "b", "bool", {}), ("optional", "c", "bool", {})],
        "b int, c string",
        [(1, "true")],
    ),
    case(
        "nullable_rules",
        [
            ("required", "a", "string?", {"min": 3}),
            ("required", "b", "int?", {}),
            ("required", "c", "any?", {}),
        ],
        "a string, b bigint, c double",
        [(None, None, None), ("ab", 1, 0.5)],
    ),
    case(
        "untyped_required",
        [("required", "a", None, {})],
        "a string",
        [(None,), ("x",)],
    ),
    # --- multi-rule AND semantics -------------------------------------------
    case(
        "multi_rule_and",
        [
            ("required", "x", "string", {"min": 5}),
            ("required", "x", "string", {"regex": r"[a-z]+"}),
        ],
        "x string",
        [("abc",), ("abcdef",), ("ABCDEF",), ("AB",)],
    ),
    # --- lists ----------------------------------------------------------------
    case(
        "list_size",
        [("required", "xs", "list", {"min": 1, "max": 3})],
        "xs array<int>",
        [([1],), ([],), ([1, 2, 3, 4],), (None,)],
    ),
    case(
        "list_on_scalar_column",
        [("required", "xs", "list", {"min": 1})],
        "xs int",
        [(5,)],
    ),
    case(
        "list_element_rules",
        [
            ("required", "xs", "list", {}),
            ("required", "xs[]", "number", {"min": 0}),
        ],
        "xs array<double>",
        [([1.0, -2.0, 3.0],), ([None, 1.0],), ([],)],
    ),
    case(
        "list_element_strings",
        [("optional", "genres[]", "string", {"options": ["a", "b"]})],
        "genres array<string>",
        [(["a", "z", "b"],), (None,)],
    ),
    case(
        "matrix_nested_lists",
        [("required", "m", "list", {}), ("required", "m[][]", "int", {"min": 0})],
        "m array<array<bigint>>",
        [([[1, -2], [3]],), ([[]],), ([],)],
    ),
    case(
        # regression: a declared list whose struct elements have only
        # UNDECLARED members must report per-element extra_field even when
        # another array family is the exploded plan's primary chain
        # (plan_exploded passed the element fname to _extra_descend, probing
        # "spans[][]" and silently dropping the extras)
        "off_chain_list_element_extras",
        [
            ("required", "spans", "list", {"min": 1}),
            ("required", "mat[]", "list", {"min": 1}),
            ("required", "arr[]", "int", {"min": 0}),
        ],
        "spans array<struct<kind:string, offset:bigint>>, "
        "mat array<array<bigint>>, arr array<bigint>",
        [
            ([("x", 0), ("y", None)], [[1]], [2]),
            (None, [[]], []),
            ([], None, None),
        ],
    ),
    # --- nested structs ---------------------------------------------------------
    case(
        "nested_struct_rules",
        [
            ("required", "a", "object", {}),
            ("required", "a.b", "string", {"min": 2}),
            ("optional", "a.c", "int", {}),
        ],
        "a struct<b:string, c:bigint>",
        [(("xy", 1),), (("x", None),), ((None, 2),), (None,)],
    ),
    case(
        "nullable_object_parent",
        [
            ("optional", "a", "object?", {}),
            ("required", "a.b", "string", {}),
        ],
        "a struct<b:string>",
        [(None,), (("ok",),), ((None,),)],
    ),
    case(
        "non_nullable_object_parent_null",
        [
            ("optional", "a", "object", {}),
            ("required", "a.b", "string", {}),
        ],
        "a struct<b:string>",
        [(None,)],
    ),
    case(
        "implicit_parent_null",
        [("required", "a.b", "string", {})],
        "a struct<b:string>",
        [(None,), (("ok",),)],
    ),
    case(
        "deep_nesting",
        [("required", "a.b.c", "number", {"max": 10})],
        "a struct<b:struct<c:double>>",
        [(((5.0,),),), (((15.0,),),), ((None,),), (None,)],
    ),
    # --- arrays of structs -----------------------------------------------------
    case(
        "spans_battery",
        [
            ("required", "doc_id", "string", {"regex": r"doc-\d{4}"}),
            ("required", "spans", "list", {"min": 1}),
            ("required", "spans[].kind", "string", {"options": ["text", "media"]}),
            ("optional", "spans[].text", "string?", {"min": 1}),
            ("optional", "spans[].offset", "int", {"min": 0}),
        ],
        "doc_id string, spans array<struct<kind:string, text:string, offset:bigint>>",
        [
            ("doc-0001", [("text", "hello", 0), ("media", None, 5)]),
            ("doc-xxxx", [("bogus", "", -1)]),
            ("doc-0003", []),
            ("doc-0004", None),
            (None, [("text", "x", 0)]),
        ],
    ),
    # --- missing fields ----------------------------------------------------------
    case(
        "missing_top_level_column",
        [("required", "a", "string", {}), ("required", "b", "int", {})],
        "a string",
        [("x",)],
    ),
    case(
        "missing_list_column",
        [("required", "a", "list", {"min": 1})],
        "b string",
        [("x",)],
    ),
    case(
        "missing_struct_member",
        [("required", "a", "object", {}), ("required", "a.b", "string", {}), ("required", "a.c", "string", {})],
        "a struct<b:string>",
        [(("x",),), (None,)],
    ),
    case(
        "missing_member_in_elements",
        [("required", "spans[].kind", "string", {}), ("optional", "spans[].extra", "string", {})],
        "spans array<struct<kind:string>>",
        [([("a",), (None,)],), (None,)],
    ),
    # --- extra fields -------------------------------------------------------------
    case(
        "extra_top_level",
        [("required", "a", "int", {})],
        "a bigint, z string, y struct<q:int>",
        [(1, "zz", (2,))],
    ),
    case(
        "extra_nested",
        [("required", "a", "object", {}), ("required", "a.b", "int", {})],
        "a struct<b:bigint, c:string, d:struct<e:int>>",
        [((1, "x", (2,)),), (None,)],
    ),
    case(
        "extra_in_elements",
        [("required", "xs", "list", {}), ("required", "xs[].k", "string", {})],
        "xs array<struct<k:string, junk:bigint>>",
        [([("a", 1), ("b", None)],)],
    ),
    case(
        "extra_ignored",
        [("required", "a", "int", {}), ("ignore_extra_fields",)],
        "a bigint, z string",
        [(1, "zz")],
    ),
    case(
        "extra_subtree_topmost_only",
        [("required", "a", "int", {})],
        "a bigint, z struct<deep:struct<deeper:int>>",
        [(1, ((5,),))],
    ),
    # --- root rules -----------------------------------------------------------------
    case(
        "root_object",
        [("required", ".", "object", {}), ("required", "a", "int", {})],
        "a bigint",
        [(1,), (None,)],
    ),
    case(
        "root_wrong_type",
        [("required", ".", "int", {}), ("optional", "a", "int", {})],
        "a bigint",
        [(1,)],
    ),
    # --- maps as open objects ----------------------------------------------------------
    case(
        "map_missing_and_extra",
        [
            ("required", "m", "object", {}),
            ("required", "m.need", "string", {}),
            ("optional", "m.opt", "string", {"min": 2}),
        ],
        "m map<string,string>",
        [
            ({"need": "x", "opt": "yy"},),
            ({"opt": "y", "stray": "z"},),
            ({"need": None},),
            (None,),
        ],
    ),
]


def _decls_to_fn(decls, required, optional, ignore_extra_fields):
    def schema_fn():
        optional(ID, type="int?")
        for decl in decls:
            if decl[0] == "ignore_extra_fields":
                ignore_extra_fields()
            else:
                verb, field, type_name, kwargs = decl
                fn = required if verb == "required" else optional
                if type_name is None:
                    fn(field, **kwargs)
                else:
                    fn(field, type=type_name, **kwargs)

    return schema_fn


def _oracle(decls, docs, okay_reference):
    from okay import validate  # type: ignore
    from okay.schema import required, optional, ignore_extra_fields  # type: ignore

    schema_fn = _decls_to_fn(decls, required, optional, ignore_extra_fields)
    out = {}
    for doc in docs:
        msgs = validate(schema_fn, doc)
        out[doc[ID]] = {
            (m.type, m.field, _freeze(getattr(m, "expected", None))) for m in msgs
        }
    return out


def _freeze(expected):
    if expected is None:
        return None
    return tuple(sorted((k, tuple(v) if isinstance(v, list) else v) for k, v in expected.items()))


def _case_frame(spark, decls, ddl, rows):
    from okay_spark import schema as dsl

    ddl_with_id = f"{ID} int, {ddl}"
    data = [(i, *row) for i, row in enumerate(rows)]
    df = spark.createDataFrame(data, schema=ddl_with_id)
    compiled = compile_schema(
        _decls_to_fn(decls, dsl.required, dsl.optional, dsl.ignore_extra_fields)
    )
    return df, compiled


def _engine(spark, decls, ddl, rows, validate=validate_dataframe):
    df, compiled = _case_frame(spark, decls, ddl, rows)
    out = validate(df, compiled, id_cols=[ID]).collect()
    result = {i: set() for i in range(len(rows))}
    for r in out:
        result[r[ID]].add((r["rule"], r["path"], _freeze(parse_expected(r["expected"]))))
    return df, result


@pytest.mark.parametrize("form", ["explode", "row"])
@pytest.mark.parametrize("decls,ddl,rows", CASES)
def test_conformance(spark, okay_reference, violations_by_row, decls, ddl, rows, form):
    validate = validate_dataframe if form == "explode" else violations_by_row
    df, engine_result = _engine(spark, decls, ddl, rows, validate)
    docs = [row.asDict(recursive=True) for row in df.collect()]
    oracle_result = _oracle(decls, docs, okay_reference)
    for i in sorted(oracle_result):
        assert engine_result[i] == oracle_result[i], (
            f"doc {i}: engine={sorted(engine_result[i])} oracle={sorted(oracle_result[i])} "
            f"doc={docs[i]}"
        )


# ---------------------------------------------------------------------------
# Documented divergences (reference crashes; engine implements intended
# semantics — see engine.py / rules.py docstrings and SURVEY.md §2.3)
# ---------------------------------------------------------------------------


def test_divergence_null_list_element_with_required_children(spark):
    from okay_spark import schema as dsl

    def schema_fn():
        dsl.optional(ID, type="int?")
        dsl.required("spans", type="list")
        dsl.required("spans[].kind", type="string")

    df = spark.createDataFrame(
        [(0, [None, {"kind": "ok"}])],
        schema=f"{ID} int, spans array<struct<kind:string>>",
    )
    got = {
        (r["rule"], r["path"])
        for r in validate_dataframe(df, compile_schema(schema_fn), id_cols=[ID]).collect()
    }
    # null element -> null_value on its implicit object rule + missing_field
    # for the required child (the reference raises RuntimeError here).
    assert got == {("null_value", "spans[0]"), ("missing_field", "spans[0].kind")}


def test_divergence_nan_inf_int_rule(spark):
    from okay_spark import schema as dsl

    def schema_fn():
        dsl.optional(ID, type="int?")
        dsl.required("n", type="int", min=0)

    df = spark.createDataFrame(
        [(0, float("nan")), (1, float("inf")), (2, float("-inf")), (3, 4.0)],
        schema=f"{ID} int, n double",
    )
    got = {
        (r[ID], r["rule"])
        for r in validate_dataframe(df, compile_schema(schema_fn), id_cols=[ID]).collect()
    }
    # reference raises OverflowError/ValueError; we classify as invalid_type.
    assert got == {(0, "invalid_type"), (1, "invalid_type"), (2, "invalid_type")}


def test_custom_rules(spark, okay_reference):
    """Custom validators run Arrow-batched and match the reference."""
    from okay_spark import schema as dsl
    from okay_spark.messages import Message

    def no_ws(field, value, limit=0):
        if value.count(" ") > limit:
            return Message(type="too_many_spaces", field=field, expected={"limit": limit})

    decls_fn = lambda req, opt, ign, msg_cls: None  # noqa: E731

    def ours():
        dsl.optional(ID, type="int?")
        dsl.required("s", type="custom", validator=no_ws, limit=1)
        dsl.optional("xs[].t", type="custom", validator=no_ws)

    df = spark.createDataFrame(
        [(0, "a b", [{"t": "x y"}, {"t": "ok"}]), (1, "a b c", None), (2, None, [{"t": None}])],
        schema=f"{ID} int, s string, xs array<struct<t:string>>",
    )
    got = {
        (r[ID], r["rule"], r["path"], r["expected"])
        for r in validate_dataframe(df, compile_schema(ours), id_cols=[ID]).collect()
    }

    # oracle
    from okay import validate  # type: ignore
    from okay.schema import required, optional  # type: ignore
    from okay.message import Message as RefMessage  # type: ignore

    def ref_no_ws(field, value, limit=0):
        if value.count(" ") > limit:
            return RefMessage(type="too_many_spaces", field=field, expected={"limit": limit})

    def ref_schema():
        optional(ID, type="int?")
        required("s", type="custom", validator=ref_no_ws, limit=1)
        optional("xs[].t", type="custom", validator=ref_no_ws)

    expect = set()
    for row in df.collect():
        doc = row.asDict(recursive=True)
        for m in validate(ref_schema, doc):
            exp = getattr(m, "expected", None)
            expect.add(
                (
                    doc[ID],
                    m.type,
                    m.field,
                    None if exp is None else __import__("json").dumps(exp, sort_keys=True, separators=(",", ":")),
                )
            )
    assert got == expect


# ---------------------------------------------------------------------------
# Both assemblies of the one lowering agree (needs no reference checkout):
# explode(violations_array) == validate_dataframe as (id, path, rule,
# expected, seq) multisets
# ---------------------------------------------------------------------------


def _assert_forms_agree(df, compiled, id_col, violations_by_row):
    def multiset(out):
        return Counter(
            (r[id_col], r["path"], r["rule"], r["expected"], r["seq"]) for r in out.collect()
        )

    want = multiset(validate_dataframe(df, compiled, id_cols=[id_col], include_seq=True))
    got = multiset(violations_by_row(df, compiled, id_cols=[id_col], include_seq=True))
    assert got == want, f"row-only={got - want} explode-only={want - got}"
    return got


@pytest.mark.parametrize("decls,ddl,rows", CASES)
def test_row_form_matches_explode_form(spark, violations_by_row, decls, ddl, rows):
    df, compiled = _case_frame(spark, decls, ddl, rows)
    _assert_forms_agree(df, compiled, ID, violations_by_row)


def test_row_form_matches_explode_form_f1(spark, violations_by_row):
    from okay_spark.fixtures import document_schema, interleaved_documents

    docs = interleaved_documents(spark, 3_000, parts=4)
    got = _assert_forms_agree(docs, compile_schema(document_schema), "doc_id", violations_by_row)
    assert sum(got.values()) > 0


def test_row_form_matches_explode_form_custom(spark, violations_by_row):
    """Custom rules and Python-dialect regex rules (both Arrow-batched) reach
    the per-row form too."""
    from okay_spark import schema as dsl
    from okay_spark.fixtures import document_schema, interleaved_documents
    from okay_spark.messages import Message

    def offsets_monotonic(field, value, **kw):
        offs = [s["offset"] for s in value or [] if s is not None and s["offset"] is not None]
        if any(b < a for a, b in zip(offs, offs[1:])):
            return Message(type="out_of_order_spans", field=field)
        return None

    def schema_fn():
        document_schema()
        dsl.required("spans", type="custom", validator=offsets_monotonic)
        # (?P<...>) is Python-only regex dialect: routed to the Arrow pass;
        # odd catalog ids fail it
        dsl.optional("spans[].media_ref", type="string?", regex=r"(?P<m>media)-\d{7}[02468]")

    docs = interleaved_documents(spark, 3_000, parts=4)
    got = _assert_forms_agree(docs, compile_schema(schema_fn), "doc_id", violations_by_row)
    rules = {rule for (_, _, rule, _, _) in got}
    assert {"out_of_order_spans", "no_match"} <= rules, rules
