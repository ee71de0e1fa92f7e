"""Import hygiene of the ``okay_spark`` package.

* Importing the validation core (the package, ``engine``, ``compat`` and
  ``job``) must not load pandas: no Arrow batch crosses into Python
  through pandas.
* No module binds a top-level import it never uses. A deliberate
  re-export says so with ``# noqa: F401`` on the import, or by listing the
  name in ``__all__``.
* No module defines a top-level function, class or variable that nothing
  names: every such name (dunders aside) must appear somewhere in the
  package, the tests, the scripts, the benchmark or the entry points
  outside its own definition.
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "okay_spark")
# where a definition of the package may be used
USER_DIRS = ("okay_spark", "tests", "scripts", "perfbench")
USER_FILES = ("__spark_entry__.py", "bench.py", "submit_job.py")


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


def _words(text: str) -> Counter:
    return Counter(re.findall(r"\w+", text))


def _user_sources() -> list[str]:
    paths = [os.path.join(REPO, f) for f in USER_FILES]
    for d in USER_DIRS:
        for base, _, files in os.walk(os.path.join(REPO, d)):
            paths += [os.path.join(base, f) for f in files if f.endswith(".py")]
    return paths


def _top_level_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return []


def test_no_unreferenced_top_level_definitions():
    sources = {}
    for path in _user_sources():
        with open(path) as fh:
            sources[path] = fh.read()
    everywhere = sum((_words(text) for text in sources.values()), Counter())
    unreferenced = []
    for module in sorted(f for f in os.listdir(PKG) if f.endswith(".py")):
        source = sources[os.path.join(PKG, module)]
        lines = source.splitlines()
        for node in ast.parse(source).body:
            own = _words("\n".join(lines[node.lineno - 1 : node.end_lineno]))
            for name in _top_level_names(node):
                if name.startswith("__") and name.endswith("__"):
                    continue
                if everywhere[name] == own[name]:
                    unreferenced.append(f"{module}:{node.lineno} {name}")
    assert unreferenced == []
