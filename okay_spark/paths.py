"""Field-path grammar shared by the compiler and the engine.

okay addresses fields with dotted path strings where ``[]`` marks list
elements and ``.`` is the document root (``/root/reference/docs/user-guide.md:119,167-179``):

    'doc_id'            -> [Name('doc_id')]
    'spans[].kind'      -> [Name('spans'), ELEM, Name('kind')]
    'matrix[][]'        -> [Name('matrix'), ELEM, ELEM]
    '.'                 -> []

Instance paths (what violation messages carry) replace each ``[]`` with a
concrete index: ``spans[3].kind``, ``matrix[0][2]``
(``/root/reference/src/okay/index.py:45``).
"""

from __future__ import annotations

from dataclasses import dataclass

ROOT = "."

# reserved root column: a per-row key the resumable job attaches so its
# rollups can count failing rows; never a document field (no extra_field)
ROW_KEY = "__ok_row"


@dataclass(frozen=True)
class Name:
    """Descend into an object/struct member."""

    name: str


class _Elem:
    """Descend into each element of a list/array.

    Identity is preserved across pickling (closures holding steps are shipped
    to Python workers for the Arrow custom-rule pass), so both ``is ELEM``
    and ``isinstance`` checks are safe anywhere."""

    def __repr__(self) -> str:  # pragma: no cover
        return "ELEM"

    def __reduce__(self):
        return (_get_elem, ())


def _get_elem() -> "_Elem":
    return ELEM


ELEM = _Elem()

Step = Name | _Elem


def parse_path(path: str) -> list[Step]:
    """Parse an okay field path into traversal steps. Root parses to []."""
    if path == ROOT:
        return []
    steps: list[Step] = []
    for segment in path.split("."):
        brackets = 0
        while segment.endswith("[]"):
            segment = segment[:-2]
            brackets += 1
        steps.append(Name(segment))
        steps.extend([ELEM] * brackets)
    return steps


def parent_and_child(path: str) -> tuple[str, str]:
    """Split a field path the way okay's missing-field pass does.

    The split is purely textual on the last ``.``
    (``/root/reference/src/okay/validator.py:71-76``):
    ``'spans[].kind'`` -> ``('spans[]', 'kind')``; ``'spans[]'`` -> ``('.',
    'spans[]')``; ``'a.b[]'`` -> ``('a', 'b[]')``.
    """
    if ROOT != path and "." in path:
        parent, child = path.rsplit(".", 1)
        return parent, child
    return ROOT, path


def child_key(child: str) -> str:
    """The dict key a child path segment refers to (``'b[]'`` -> ``'b'``).

    okay uses ``child.strip('[]')`` (``/root/reference/src/okay/validator.py:88``).
    """
    return child.strip("[]")


def join_instance(parent_path: str, child: str) -> str:
    """Join a parent *instance* path with a child segment for messages."""
    return child if parent_path == ROOT else f"{parent_path}.{child}"
