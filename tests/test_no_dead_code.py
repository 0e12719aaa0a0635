"""Guard: the package ships only what a shipped path reaches.

A top-level function or class of the package is live when its name occurs
as code in a root or in the body of another live definition, taken as a
transitive closure. The roots are the package's module-level code (every
top-level statement that is not a def or class), the driver entry
`__spark_entry__.py`, `bench.py`, `jobs/`, `tools/` and `perfbench/`
(without `perfbench/tests`). "Occurs as code" means an `ast.Name`, an
`ast.Attribute`'s attribute or an import alias, so an f-string expression
counts while comments, docstrings and tests do not. Two dead helpers that
call each other stay dead: a definition only keeps alive what it names once
it is live itself.

One module is exempt: `plans/evaluate.py` is the evaluator of the pairwise
F1 >= 0.99 gate (`tests/test_pipeline_e2e.py`). It is safety code whose only
caller is that gate test by design, so its definitions are roots too.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ala_name_matching_spark"
ROOTS = ["__spark_entry__.py", "bench.py", "jobs", "tools", "perfbench"]
ROOT_EXCLUDED = [os.path.join("perfbench", "tests")]
EXEMPT = {os.path.join(PKG, "plans", "evaluate.py")}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _code_names(node: ast.AST) -> set[str]:
    """Every name `node` uses as code: names, attributes and import aliases."""
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias):
            out.update(sub.name.split("."))
            if sub.asname:
                out.add(sub.asname)
    return out


def dead_definitions(
    package: dict[str, str], roots: dict[str, str], exempt: set[str] = frozenset()
) -> list[str]:
    """`path:line name` of every top-level package def no root reaches.

    `package` and `roots` map a path to its source text; a package module
    whose path is in `exempt` is not reported and its definitions count as
    roots.
    """
    live = set()
    defs = []  # (path, node)
    for text in roots.values():
        live |= _code_names(ast.parse(text))
    for path, text in package.items():
        for node in ast.parse(text).body:
            if isinstance(node, _DEFS):
                defs.append((path, node))
                if path in exempt:
                    live |= _code_names(node)
            else:
                live |= _code_names(node)
    pending = [(p, n) for p, n in defs if p not in exempt]
    while reached := [n for _, n in pending if n.name in live]:
        for node in reached:
            live |= _code_names(node)
        pending = [(p, n) for p, n in pending if n not in reached]
    return sorted(f"{p}:{n.lineno} {n.name}" for p, n in pending)


def _read_tree(entries: list[str], excluded: list[str] = ()) -> dict[str, str]:
    out = {}
    for entry in entries:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            paths = [path]
        else:
            paths = [
                os.path.join(d, f)
                for d, _, files in os.walk(path)
                if not any(
                    (os.path.relpath(d, REPO) + os.sep).startswith(x + os.sep)
                    for x in excluded
                )
                for f in files
                if f.endswith(".py")
            ]
        for p in paths:
            with open(p, encoding="utf-8") as fh:
                out[os.path.relpath(p, REPO)] = fh.read()
    return out


def test_every_package_definition_is_referenced():
    dead = dead_definitions(
        _read_tree([PKG]), _read_tree(ROOTS, ROOT_EXCLUDED), EXEMPT
    )
    assert not dead, "definitions no shipped path reaches:\n" + "\n".join(dead)


_LIB = '''
"""Module docstring naming in_docstring."""
# a comment naming in_comment
import os

LIMIT = helper_for_constant()


def in_comment():
    pass


def in_docstring():
    pass


def in_test():
    pass


def in_fstring():
    pass


def helper_for_constant():
    return 1


def cycle_a():
    return cycle_b()


def cycle_b():
    return cycle_a()


def live_entry():
    """Calls nothing named in_docstring."""
    return via_live()


def via_live():
    return deeper(os.sep)


def deeper(x):
    return x
'''

_EXEMPT_MOD = '''
def gate_helper():
    return kept_by_exempt()
'''

_LIB2 = '''
def kept_by_exempt():
    pass


def recursive_dead():
    return recursive_dead()
'''


def test_guard_scanner_on_an_in_memory_package():
    package = {"pkg/lib.py": _LIB, "pkg/evaluate.py": _EXEMPT_MOD, "pkg/lib2.py": _LIB2}
    roots = {
        "entry.py": 'from pkg.lib import live_entry\nprint(f"{in_fstring()}")\n'
        "live_entry()  # in_comment\n",
    }
    dead = {
        entry.split()[1]
        for entry in dead_definitions(package, roots, {"pkg/evaluate.py"})
    }
    # Named only in a comment, a docstring or a test source: flagged.
    assert {"in_comment", "in_docstring", "in_test"} <= dead
    # Named inside an f-string expression of a root: live.
    assert "in_fstring" not in dead
    # Two dead definitions that call each other, and a self-recursive one.
    assert {"cycle_a", "cycle_b", "recursive_dead"} <= dead
    # Reached through a live definition or the module-level code: live.
    assert not {"live_entry", "via_live", "deeper", "helper_for_constant"} & dead
    # The exempt module is not reported, and what it calls is live.
    assert "gate_helper" not in dead and "kept_by_exempt" not in dead
    assert dead == {
        "in_comment", "in_docstring", "in_test", "cycle_a", "cycle_b", "recursive_dead"
    }


def test_guard_roots_hold_no_test_source():
    roots = _read_tree(ROOTS, ROOT_EXCLUDED)
    assert "__spark_entry__.py" in roots and "bench.py" in roots
    assert not [p for p in roots if "tests" in p.split(os.sep)]
