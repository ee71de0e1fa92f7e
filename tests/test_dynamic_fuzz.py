"""Seeded fuzz of the DYNAMIC path (validate_json over a Spark DataFrame)
against the reference validator.

Unlike test_engine_fuzz (typed columns, static schema), documents here are
heterogeneous JSON: any field may hold a string, number, bool, list, or
object — the exact dynamic-typing surface okay was built for and the typed
battery cannot express. Generation avoids only the reference's verified
crash inputs (SURVEY.md §2.3): no None elements inside lists, no
non-finite floats.
"""

from __future__ import annotations

import json
import random

import pytest

ID = "_id"

_STRINGS = ["en", "fr", "DE", "x123y", "", "abcd", "hello world", "12"]


def _value(rng: random.Random, depth: int = 0):
    kinds = ["str", "int", "float", "bool", "null"]
    if depth < 2:
        kinds += ["list", "obj"]
    k = rng.choice(kinds)
    if k == "str":
        return rng.choice(_STRINGS)
    if k == "int":
        return rng.randint(-5, 60)
    if k == "float":
        return rng.choice([0.5, 12.0, -3.25, 2.0, 7.75])
    if k == "bool":
        return rng.random() < 0.5
    if k == "null":
        return None
    if k == "list":
        # no None elements (reference defaultdict-mutation crash)
        return [_value_nonnull(rng, depth + 1) for _ in range(rng.randint(0, 3))]
    return {key: _value(rng, depth + 1) for key in rng.sample(["a", "b", "c", "d"], rng.randint(0, 3))}


def _value_nonnull(rng, depth):
    v = _value(rng, depth)
    return "x" if v is None else v


def _doc(rng: random.Random):
    return {
        key: _value(rng)
        for key in rng.sample(["s", "n", "obj", "items", "extra1", "extra2"], rng.randint(0, 5))
    }


_DECL_POOL = [
    ("required", "s", "string", {"min": 2, "max": 6}),
    ("optional", "s", "int", {"min": 0}),
    ("required", "n", "number", {"min": 0, "max": 30}),
    ("optional", "n", "string?", {"regex": r"\d+"}),
    ("required", "obj", "object", {}),
    ("optional", "obj.a", "int", {"min": 1}),
    ("required", "obj.b", "string", {"options": ["en", "fr"]}),
    ("optional", "obj.c", "object?", {}),
    # items[] decls stay "required": declaring the list required already
    # marks items[] required, and an optional re-declaration is a
    # SchemaError in both implementations (already_required)
    ("required", "items", "list", {"min": 1, "max": 2}),
    ("required", "items[]", "number", {"max": 10}),
    ("required", "items[]", "string", {"min": 1}),
]


def _pick_decls(rng: random.Random):
    chosen, seen = [], set()
    for decl in _DECL_POOL:
        if rng.random() < 0.5 and decl[1] not in seen:
            seen.add(decl[1])
            chosen.append(decl)
    return chosen or [_DECL_POOL[0]]


def _schema_fn(decls, required, optional):
    def fn():
        for strictness, path, type_name, kwargs in decls:
            (required if strictness == "required" else optional)(path, type=type_name, **kwargs)

    return fn


def _freeze(expected):
    if expected is None:
        return None
    return tuple(
        sorted((k, tuple(v) if isinstance(v, list) else v) for k, v in expected.items())
    )


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_dynamic_fuzz_matches_reference(spark, okay_reference, seed):
    from okay import validate  # type: ignore
    from okay.schema import optional as r_optional, required as r_required  # type: ignore

    from okay_spark import schema as dsl
    from okay_spark.dynamic import validate_json
    from okay_spark.messages import parse_expected

    rng = random.Random(seed)
    docs = [_doc(rng) for _ in range(150)]
    decls = _pick_decls(rng)

    df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(docs)], f"{ID} int, body string"
    )
    from okay_spark.schema import compile_schema

    compiled = compile_schema(_schema_fn(decls, dsl.required, dsl.optional))
    out = validate_json(df, "body", compiled, id_cols=[ID]).collect()
    engine = {i: set() for i in range(len(docs))}
    for r in out:
        engine[r[ID]].add((r["rule"], r["path"], _freeze(parse_expected(r["expected"]))))

    oracle_fn = _schema_fn(decls, r_required, r_optional)
    for i, doc in enumerate(docs):
        msgs = validate(oracle_fn, doc)
        want = {(m.type, m.field, _freeze(getattr(m, "expected", None))) for m in msgs}
        assert engine[i] == want, (
            f"seed={seed} doc={doc!r}\nengine-only={engine[i] - want}\n"
            f"oracle-only={want - engine[i]}\ndecls={decls}"
        )


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_validate_json_matches_interpreter(spark, seed):
    """validate_json against ``validate_document`` over ``json.loads``, with
    no reference checkout: the fuzz documents of ``seed`` plus a NULL body,
    malformed JSON under a NULL id, a non-object root and an id above 2^53
    (not exact as a double). Each id's (rule, path, expected) multiset must
    match; a NULL or unparseable body is one root ``invalid_json``."""
    from collections import Counter

    from okay_spark import schema as dsl
    from okay_spark.dynamic import validate_document, validate_json
    from okay_spark.schema import compile_schema

    rng = random.Random(seed)
    docs = [_doc(rng) for _ in range(150)]
    compiled = compile_schema(_schema_fn(_pick_decls(rng), dsl.required, dsl.optional))
    big = 2**53 + 1
    rows = [(i, json.dumps(d)) for i, d in enumerate(docs)]
    # an undeclared key, so the big id always has a violation to carry
    rows += [(1000, None), (None, "{not json"), (1001, "[1, 2]"), (big, json.dumps({"zz": 1}))]
    df = spark.createDataFrame(rows, f"{ID} bigint, body string")

    got: dict = {}
    for r in validate_json(df, "body", compiled, id_cols=[ID]).collect():
        got.setdefault(r[ID], Counter())[(r["rule"], r["path"], r["expected"])] += 1
    want: dict = {}
    for i, body in rows:
        try:
            viols = validate_document(compiled, json.loads(body))
        except (TypeError, ValueError):
            viols = [("invalid_json", ".", None)]
        if viols:
            want[i] = Counter(viols)
    assert got == want
    assert got[None] == got[1000] == Counter({("invalid_json", ".", None): 1})
    assert got[big][("extra_field", "zz", None)] == 1
