"""Seeded fuzz conformance through the actual Spark columnar engine.

Random typed rows over a nested DDL (scalars, arrays, structs,
array-of-struct spans, nested arrays) x seeded random schema declarations,
run through ``validate_dataframe`` under BOTH plan strategies and compared
per-document against the reference validator on ``Row.asDict(recursive=True)``.

Complements ``test_engine_conformance`` (hand-picked goldens) and
``test_property_conformance`` (pure-Python dynamic path): this one fuzzes the
Column-expression lowering itself, including the exploded whole-stage-codegen
plan. Generation avoids the reference's crash bugs only (SURVEY.md §2.3):
no None elements inside ``spans`` (declared dotted children under a []-parent
trigger the defaultdict-mutation RuntimeError) and no non-finite floats.
"""

from __future__ import annotations

import random

import pytest

from okay_spark import compile_schema
from okay_spark.engine import validate_dataframe
from okay_spark.messages import parse_expected

ID = "_id"

DDL = (
    "s string, n bigint, d double, b boolean, "
    "arr array<bigint>, tags array<string>, "
    "obj struct<x:bigint, y:string>, "
    "spans array<struct<kind:string, text:string, offset:bigint>>, "
    "mat array<array<bigint>>, "
    "meta map<string, bigint>, "
    "deep struct<items: array<struct<q:bigint, tag:string>>>"
)

_STRINGS = ["en", "fr", "DE", "xy", "x123y", "12", "abcd", "", "text span"]
_KINDS = ["text", "media", "code", None]  # None = struct field null, not element null


def _maybe(rng, p_null, gen):
    return None if rng.random() < p_null else gen()


def _row(rng: random.Random):
    s = _maybe(rng, 0.2, lambda: rng.choice(_STRINGS))
    n = _maybe(rng, 0.2, lambda: rng.randint(-5, 50))
    d = _maybe(rng, 0.2, lambda: rng.choice([0.5, 1.0, 12.0, -3.25, 2.0, 100.0]))
    b = _maybe(rng, 0.3, lambda: rng.random() < 0.5)
    arr = _maybe(
        rng, 0.25, lambda: [_maybe(rng, 0.2, lambda: rng.randint(0, 9)) for _ in range(rng.randint(0, 4))]
    )
    tags = _maybe(
        rng, 0.25, lambda: [_maybe(rng, 0.2, lambda: rng.choice(_STRINGS)) for _ in range(rng.randint(0, 3))]
    )
    obj = _maybe(
        rng,
        0.3,
        lambda: (
            _maybe(rng, 0.3, lambda: rng.randint(0, 9)),
            _maybe(rng, 0.3, lambda: rng.choice(_STRINGS)),
        ),
    )
    spans = _maybe(
        rng,
        0.25,
        lambda: [
            (  # no None elements (reference RuntimeError, SURVEY.md §2.3)
                rng.choice(_KINDS),
                _maybe(rng, 0.3, lambda: rng.choice(_STRINGS)),
                _maybe(rng, 0.3, lambda: rng.randint(-2, 99)),
            )
            for _ in range(rng.randint(0, 3))
        ],
    )
    mat = _maybe(
        rng,
        0.3,
        lambda: [
            _maybe(rng, 0.2, lambda: [_maybe(rng, 0.2, lambda: rng.randint(0, 5)) for _ in range(rng.randint(0, 3))])
            for _ in range(rng.randint(0, 2))
        ],
    )
    meta = _maybe(
        rng,
        0.3,
        lambda: {
            k: _maybe(rng, 0.25, lambda: rng.randint(0, 9))
            for k in rng.sample(["k1", "k2", "zz"], rng.randint(0, 3))
        },
    )
    deep = _maybe(
        rng,
        0.35,
        lambda: (
            _maybe(
                rng,
                0.3,
                lambda: [
                    (  # no None elements (reference crash, SURVEY.md §2.3)
                        _maybe(rng, 0.3, lambda: rng.randint(0, 9)),
                        _maybe(rng, 0.3, lambda: rng.choice(_STRINGS)),
                    )
                    for _ in range(rng.randint(0, 2))
                ],
            ),
        ),
    )
    return (s, n, d, b, arr, tags, obj, spans, mat, meta, deep)


# candidate declarations: (strictness, path, type, kwargs); types deliberately
# include mismatches against the static column type (invalid_type coverage)
_DECL_POOL = [
    ("required", "s", "string", {"regex": r"[a-z]+\d*", "min": 2, "max": 6}),
    ("optional", "s", "string", {"options": ["en", "fr"], "case_sensitive": False}),
    ("required", "s", "int", {}),
    ("required", "n", "int", {"min": 0, "max": 20}),
    ("optional", "n", "number", {"options": [1, 2.5, 42]}),
    ("required", "n", "string", {"min": 1}),
    ("required", "d", "number", {"min": 0.0, "max": 50.0}),
    ("required", "d", "int", {"min": 1}),
    ("optional", "b", "bool", {}),
    ("required", "b", "int", {}),
    ("required", "arr", "list", {"min": 1, "max": 3}),
    ("required", "arr[]", "int", {"min": 2, "max": 8}),
    ("optional", "tags", "list", {"max": 2}),
    ("optional", "tags[]", "string", {"options": ["en", "abcd"]}),
    ("required", "obj", "object", {}),
    ("required", "obj.x", "int", {"min": 3}),
    ("optional", "obj.y", "string", {"regex": r"[a-z ]+"}),
    ("required", "spans", "list", {"min": 1}),
    ("required", "spans[].kind", "string", {"options": ["text", "media"]}),
    ("optional", "spans[].text", "string", {"min": 2}),
    ("required", "spans[].offset", "int", {"min": 0}),
    ("required", "mat", "list", {}),
    ("required", "mat[]", "list", {"min": 1}),
    ("required", "mat[][]", "int", {"max": 4}),
    ("optional", "obj", "object?", {}),
    ("required", "s", "string?", {"min": 1}),
    ("required", "d", "number?", {"min": -10}),
    # open MapType segment: declared keys get rules, others are extras
    ("optional", "meta", "object", {}),
    ("required", "meta.k1", "int", {"min": 1}),
    ("optional", "meta.k2", "number", {"max": 5}),
    # struct -> array-of-struct -> scalar (deep off-chain candidates)
    ("optional", "deep", "object", {}),
    ("required", "deep.items", "list", {"max": 2}),
    ("required", "deep.items[].q", "int", {"min": 2}),
    ("optional", "deep.items[].tag", "string", {"max": 3}),
]


def _pick_decls(rng: random.Random):
    """Random conflict-free subset: at most one decl per path, object/list
    decls kept (parents always precede children in the pool order)."""
    chosen, seen_paths = [], set()
    for decl in _DECL_POOL:
        if rng.random() < 0.55:
            path = decl[1]
            if path in seen_paths:
                continue
            seen_paths.add(path)
            chosen.append(decl)
    if not chosen:
        chosen = [_DECL_POOL[0]]
    return chosen


def _schema_fn(decls, required, optional):
    def fn():
        for strictness, path, type_name, kwargs in decls:
            (required if strictness == "required" else optional)(
                path, type=type_name, **kwargs
            )

    return fn


def _freeze(expected):
    if expected is None:
        return None
    return tuple(
        sorted((k, tuple(v) if isinstance(v, list) else v) for k, v in expected.items())
    )


@pytest.mark.parametrize("form", ["explode", "row"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_engine_fuzz_matches_reference(spark, okay_reference, violations_by_row, seed, form):
    from okay import validate  # type: ignore
    from okay.schema import optional as r_optional, required as r_required  # type: ignore
    from okay_spark import schema as dsl

    rng = random.Random(seed)
    rows = [(i, *_row(rng)) for i in range(200)]
    decls = _pick_decls(rng)

    df = spark.createDataFrame(rows, schema=f"{ID} int, {DDL}")
    compiled = compile_schema(_schema_fn(decls, dsl.required, dsl.optional))
    validate = validate_dataframe if form == "explode" else violations_by_row
    engine_rows = validate(df, compiled, id_cols=[ID]).collect()
    engine = {i: set() for i in range(len(rows))}
    for r in engine_rows:
        engine[r[ID]].add((r["rule"], r["path"], _freeze(parse_expected(r["expected"]))))

    oracle_fn = _schema_fn(decls, r_required, r_optional)
    docs = [row.asDict(recursive=True) for row in df.collect()]
    for doc in sorted(docs, key=lambda d: d[ID]):
        msgs = validate(oracle_fn, doc)
        want = {(m.type, m.field, _freeze(getattr(m, "expected", None))) for m in msgs}
        got = engine[doc[ID]]
        assert got == want, (
            f"seed={seed} form={form} doc={doc!r}\n"
            f"engine-only={got - want}\noracle-only={want - got}\ndecls={decls}"
        )
