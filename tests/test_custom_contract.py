"""The custom-callable error contract on every surface that runs one.

okay's extension point is a user callable ``(field, value, **kwargs) ->
Message | None`` (``custom_validator.py:17-26``). A callable that raises, or
returns anything but a ``Message``/``None``, aborts with a ``SchemaError``
whose text names the function and the field. The driver-side surfaces
(``okay_spark.validate``, ``CustomValidator``) raise it directly with the
original error as ``__cause__``; the Spark surfaces (``validate_json``,
``validate_dataframe`` in the explode and the per-row form) fail the task,
and the text shows in the failure. No reference checkout is needed.
"""

from __future__ import annotations

import json

import pytest

from okay_spark import CustomValidator, SchemaError, validate
from okay_spark import schema as dsl

RAISED = "Custom validation function `f()` specified for field '{}' raised exception `ZeroDivisionError`."
NOT_MESSAGE = (
    "Custom validation function `f()` specified for field '{}' must return a `Message` "
    "object, but it returned a `str` object instead."
)


def _raising():
    def f(field, value, **kw):
        return 1 // 0

    return f


def _returns_str():
    def f(field, value, **kw):
        return "not a message"

    return f


CASES = [(_raising, RAISED), (_returns_str, NOT_MESSAGE)]


def _schema(fn):
    def schema_fn():
        dsl.optional("doc_id", type="int?")
        dsl.required("x", type="custom", validator=fn)

    return schema_fn


@pytest.mark.parametrize("make, text", CASES, ids=["raises", "returns_str"])
def test_validate_error_contract(make, text):
    with pytest.raises(SchemaError) as exc:
        validate(_schema(make()), {"doc_id": 1, "x": 5})
    assert str(exc.value) == text.format("x")
    if make is _raising:
        assert isinstance(exc.value.__cause__, ZeroDivisionError)


@pytest.mark.parametrize("make, text", CASES, ids=["raises", "returns_str"])
def test_custom_validator_error_contract(make, text):
    """The text names the field the validator was built for, not the one it
    is called with."""
    validator = CustomValidator(field="built", validator=make())
    with pytest.raises(SchemaError) as exc:
        validator("called", 5)
    assert str(exc.value) == text.format("built")
    if make is _raising:
        assert isinstance(exc.value.__cause__, ZeroDivisionError)


def test_custom_validator_returns_the_message_itself():
    from okay_spark import Message

    msg = Message(type="odd", field="f", extra=1)
    validator = CustomValidator(field="built", validator=lambda field, value: msg)
    assert validator("called", 5) is msg
    assert CustomValidator(field="built", validator=lambda field, value: None)("called", 5) is None


def _assert_task_fails_with(frame, text):
    with pytest.raises(Exception) as exc:
        frame.collect()
    assert text in str(exc.value)


@pytest.mark.parametrize("make, text", CASES, ids=["raises", "returns_str"])
def test_validate_json_error_contract(spark, make, text):
    from okay_spark.dynamic import validate_json

    df = spark.createDataFrame([(1, json.dumps({"doc_id": 1, "x": 5}))], "doc_id bigint, body string")
    _assert_task_fails_with(validate_json(df, "body", _schema(make())), text.format("x"))


@pytest.mark.parametrize("make, text", CASES, ids=["raises", "returns_str"])
def test_validate_dataframe_error_contract(spark, violations_by_row, make, text):
    from okay_spark.engine import validate_dataframe

    df = spark.createDataFrame([(1, 5)], "doc_id bigint, x bigint")
    schema = _schema(make())
    _assert_task_fails_with(validate_dataframe(df, schema), text.format("x"))
    _assert_task_fails_with(violations_by_row(df, schema), text.format("x"))
