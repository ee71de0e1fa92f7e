"""Validation-message model and the engine's violation vocabulary.

The reference models messages as tiny attribute bags
(``/root/reference/src/okay/message.py:1-11``). We keep that driver-side object
for the dict-compat path and conformance tests. The *columnar* violation
record the distributed engine emits is declared once, as
``okay_spark.rules.VIOL_STRUCT_DDL``:

    (path: string, rule: string, expected: string-json, seq: long)

``rule`` is one of the message types below; ``path`` is the okay instance path
(indices included, e.g. ``spans[3].kind``); ``expected`` is the rule's full
parameter payload serialized as canonical JSON (sorted keys), matching the
``expected`` dicts okay attaches (``/root/reference/docs/reference.md:201-338``).

Message-type taxonomy (``/root/reference/docs/reference.md:20-29``):
invalid_type, null_value, missing_field, extra_field, no_match,
string_too_short, string_too_long, invalid_string_option, number_too_small,
number_too_large, invalid_number_option, too_few_elements, too_many_elements,
plus user-defined types from custom validators.
"""

from __future__ import annotations

import json
from typing import Any

class Message:
    """Attribute-bag validation message (driver-side / dict-compat path).

    API-compatible with the reference's ``Message``
    (``/root/reference/src/okay/message.py``): arbitrary keyword attributes,
    ``add`` merges (overwriting), ``repr`` is ``"<type>: <field>"``.
    """

    def __init__(self, type: str, **attrs: Any):
        self.type = type
        self.add(**attrs)

    def add(self, **attrs: Any) -> None:
        self.__dict__.update(attrs)

    def __repr__(self) -> str:  # pragma: no cover - cosmetic
        return f"{self.type}: {self.field}"


def expected_json(expected: dict[str, Any] | None) -> str | None:
    """Canonical JSON serialization of an ``expected`` payload.

    Sorted keys so the string is hash-stable; ``None`` values serialize as
    JSON ``null`` (okay keeps every rule parameter in ``expected`` even when
    unset, e.g. ``/root/reference/src/okay/type_validators/string_validator.py:28-35``).
    """
    if expected is None:
        return None
    return json.dumps(expected, sort_keys=True, separators=(",", ":"))


def parse_expected(payload: str | None) -> dict[str, Any] | None:
    return None if payload is None else json.loads(payload)
