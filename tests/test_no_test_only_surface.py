"""Guard against code that only tests call.

Every module-level function and class in ``pasar_spark/``, and every
non-dunder method, must be named at least once beyond its own
definition by non-test code: the package itself, ``scripts/``,
``bench.py``, ``__spark_entry__.py`` or ``perfbench/``. Registry
queries (``@register``) are exempt: the registry reaches them by name.
A name counts as a whole word anywhere in those files, so a string
reference (a perfbench hook, a CLI dispatch table) is a caller too.

The scan only reads files; it imports nothing and starts no Spark.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "pasar_spark")
CALLER_DIRS = ("pasar_spark", "scripts", "perfbench")
CALLER_FILES = ("bench.py", "__spark_entry__.py")


def _files(top: str, suffixes=(".py",)):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in sorted(filenames):
            if f.endswith(suffixes):
                yield os.path.join(dirpath, f)


def _is_registered(node) -> bool:
    for d in node.decorator_list:
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "register":
            return True
    return False


def _definitions() -> dict[str, int]:
    """``{name: number of definitions}`` over the package."""
    defs: dict[str, int] = {}
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for path in _files(PACKAGE):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        names = []
        for node in tree.body:
            if isinstance(node, funcs) and not _is_registered(node):
                names.append(node.name)
            elif isinstance(node, ast.ClassDef):
                names.append(node.name)
                names += [
                    m.name for m in node.body
                    if isinstance(m, funcs)
                    and not (m.name.startswith("__") and m.name.endswith("__"))
                ]
        for n in names:
            defs[n] = defs.get(n, 0) + 1
    return defs


def _caller_text() -> str:
    paths = [os.path.join(ROOT, f) for f in CALLER_FILES]
    for d in CALLER_DIRS:
        paths += _files(os.path.join(ROOT, d), (".py", ".sh"))
    text = []
    for p in paths:
        with open(p) as fh:
            text.append(fh.read())
    return "\n".join(text)


def test_every_definition_has_a_non_test_caller():
    defs = _definitions()
    uses: dict[str, int] = {}
    for w in re.findall(r"\w+", _caller_text()):
        if w in defs:
            uses[w] = uses.get(w, 0) + 1
    uncalled = sorted(n for n, k in defs.items() if uses.get(n, 0) <= k)
    assert uncalled == [], (
        "no caller outside tests/: wire each into the CLI, the registry or "
        "perfbench, or delete it with its tests"
    )
