"""Guard against unreferenced library code piling up.

Every top-level function and class in the package must be referenced
somewhere in the repository outside its own definition: in the package,
the driver entry, the bench, the jobs, the tools, the tests or the
benchmark harness. The scan parses each package module with `ast` for its
top-level definitions, then word-matches each name against the scanned
sources with the definition's own lines removed. A mention in a comment or
docstring counts as a reference, so the scan errs towards keeping code.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ala_name_matching_spark"
SCANNED = [PKG, "__spark_entry__.py", "bench.py", "jobs", "tools", "tests", "perfbench"]


def _sources() -> dict[str, str]:
    out = {}
    for entry in SCANNED:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            paths = [path]
        else:
            paths = [
                os.path.join(d, f)
                for d, _, files in os.walk(path)
                for f in files
                if f.endswith(".py")
            ]
        for p in paths:
            with open(p, encoding="utf-8") as fh:
                out[p] = fh.read()
    return out


def test_every_package_definition_is_referenced():
    sources = _sources()
    pkg_dir = os.path.join(REPO, PKG) + os.sep
    unreferenced = []
    for path, text in sources.items():
        if not path.startswith(pkg_dir):
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            start = min([d.lineno for d in node.decorator_list] + [node.lineno])
            rest = "\n".join(lines[: start - 1] + lines[node.end_lineno :])
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            if not word.search(rest) and not any(
                word.search(t) for p, t in sources.items() if p != path
            ):
                unreferenced.append(f"{os.path.relpath(path, REPO)}:{node.lineno} {node.name}")
    assert not unreferenced, "unreferenced definitions:\n" + "\n".join(unreferenced)
