"""Import hygiene of the ``okay_spark`` package.

* Importing the validation core (the package, ``engine``, ``compat`` and
  ``job``) must not load pandas: no Arrow batch crosses into Python
  through pandas.
* No module binds a top-level import it never uses. A deliberate
  re-export says so with ``# noqa: F401`` on the import, or by listing the
  name in ``__all__``.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "okay_spark")


def test_validation_core_does_not_load_pandas():
    code = (
        "import sys; import okay_spark, okay_spark.engine, okay_spark.compat, okay_spark.job; "
        "print('pandas' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(PKG),
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False", out.stdout + out.stderr


def _unused_imports(path: str) -> list[str]:
    with open(path) as fh:
        source = fh.read()
    tree = ast.parse(source)
    lines = source.splitlines()
    bound: dict[str, int] = {}
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("noqa: F401" in lines[i - 1] for i in range(node.lineno, node.end_lineno + 1)):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            bound[name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {e.value for e in ast.walk(node.value) if isinstance(e, ast.Constant)}
    return [f"{name} (line {line})" for name, line in bound.items() if name not in used]


@pytest.mark.parametrize("module", sorted(f for f in os.listdir(PKG) if f.endswith(".py")))
def test_no_unused_top_level_imports(module):
    assert _unused_imports(os.path.join(PKG, module)) == []
