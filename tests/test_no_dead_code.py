"""Guard: the package ships only what a shipped path reaches.

Four checks: every definition has a shipped caller, every option has a
shipped setter, package code reads no environment knob, and only
`sources/checkpoints.py` caches or checkpoints.

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

An option is a defaulted parameter of a top-level function, or of a method
of a top-level class, that selects a branch: its name appears in an `if`,
conditional-expression or `while` test of that function, or the function
passes it on (as a bare name, by keyword or position) to a parameter of a
callee that selects a branch, taken as a transitive closure. It is set when a
call in a root or in package code passes it by keyword, by position, or
through `*args` / `**kwargs`. The callee is matched by name (`f(...)` or
`x.f(...)`); `Class(...)` calls `Class.__init__`, `partial(f, ...)` calls
`f`, and a method's first parameter (self/cls) takes no positional
argument unless it is a staticmethod. An option no shipped call sets only
ever takes its default, so the branch behind it runs only in tests; it
should be a constant instead. EXEMPT_OPTIONS lists the few kept on purpose.

An environment read (`os.environ`, `os.getenv`, or either imported by name)
is an option no call site shows: a branch that only a shell setting selects.
EXEMPT_ENV lists the deployment settings the session reads on purpose.

A call of `localCheckpoint`, `checkpoint`, `persist`, `unpersist` or `cache`
in the package or `__spark_entry__.py` must sit in `sources/checkpoints.py`:
everything else takes a lineage barrier with `barrier()` and caches shared
inputs with `cached()`, so every barrier and cache is released by one
mechanism (`released()`, the end of a `cached()` block).
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
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_TESTS = (ast.If, ast.IfExp, ast.While)

EXEMPT_OPTIONS = {
    "readers.write_table(fmt)": "a deployment setting: Iceberg is the "
    "production format, parquet the fallback without the Iceberg runtime",
    "dedup.minhash_lsh_candidates(return_stats)": "the lost-pair ledger of "
    "the capped LSH buckets (ROADMAP aim 3)",
    "dedup.simhash_near_duplicates(return_stats)": "the lost-pair ledger of "
    "the capped SimHash buckets (ROADMAP aim 3)",
    "linkage.fs_em_multilevel(m_init)": "test_linkage starts the model at "
    "fs_em's init to show it reduces exactly to the reference fs_em",
    "linkage.fs_em_multilevel(u_init)": "as m_init",
}

CACHE_CALLS = {"localCheckpoint", "checkpoint", "persist", "unpersist", "cache"}
CACHE_OWNER = os.path.join(PKG, "sources", "checkpoints.py")

EXEMPT_ENV = {
    "session(SPARK_GRAFT_CPUS)": "a deployment setting: the host's CPU "
    "budget, which sizes the default local master and its shuffle partitions",
    "session(SPARK_DRIVER_MEMORY)": "a deployment setting: the driver JVM heap",
}


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


def _functions(path: str, tree: ast.Module):
    """(name, node, callee names, self offset) of every top-level function
    and every method of a top-level class; `name` is `module.f` or
    `module.Class.f`."""
    module = os.path.splitext(os.path.basename(path))[0]
    for node in tree.body:
        if isinstance(node, _FUNCS):
            yield f"{module}.{node.name}", node, {node.name}, 0
        elif isinstance(node, ast.ClassDef):
            for fn in node.body:
                if not isinstance(fn, _FUNCS):
                    continue
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in fn.decorator_list
                )
                names = {fn.name} | ({node.name} if fn.name == "__init__" else set())
                yield f"{module}.{node.name}.{fn.name}", fn, names, 0 if static else 1


def _params(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    return [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]


def _tested(fn: ast.FunctionDef) -> set[str]:
    """Names in an if, conditional-expression or while test of `fn`."""
    return {
        n.id
        for sub in ast.walk(fn)
        if isinstance(sub, _TESTS)
        for n in ast.walk(sub.test)
        if isinstance(n, ast.Name)
    }


def _forwards(fn: ast.FunctionDef) -> list[tuple[str, list]]:
    """(callee name, [(keyword or positional index, parameter)]) of every
    call in `fn` that passes one of its parameters on as a bare name."""
    params, out = set(_params(fn)), []
    for node in ast.walk(fn):
        if not isinstance(node, ast.Call):
            continue
        func, args = node.func, node.args
        if _callee(func) == "partial" and args:
            func, args = args[0], args[1:]
        passed = [(k.arg, k.value) for k in node.keywords if k.arg] + list(enumerate(args))
        slots = [(s, v.id) for s, v in passed if isinstance(v, ast.Name) and v.id in params]
        if slots and _callee(func):
            out.append((_callee(func), slots))
    return out


def _branch_params(functions: list) -> dict[str, set[str]]:
    """name -> the parameters of each `_functions` entry that select a
    branch: tested directly, or passed on to a callee parameter that does,
    to a fixed point. Callees are matched by name, as for setters."""
    by_callee = {}
    for name, fn, callees, offset in functions:
        for callee in callees:
            by_callee.setdefault(callee, []).append((name, _params(fn)[offset:]))
    branch = {name: _tested(fn) for name, fn, _, _ in functions}
    forwards = {name: _forwards(fn) for name, fn, _, _ in functions}
    changed = True
    while changed:
        changed = False
        for name, calls in forwards.items():
            for callee, slots in calls:
                for target, t_params in by_callee.get(callee, []):
                    for slot, param in slots:
                        if isinstance(slot, int):
                            slot = t_params[slot] if slot < len(t_params) else None
                        if slot in branch[target] and param not in branch[name]:
                            branch[name].add(param)
                            changed = True
    return branch


def _options(fn: ast.FunctionDef, branch: set[str]) -> list[tuple[str, int | None]]:
    """(option, positional index or None if keyword-only) of `fn`, given
    the names of its parameters that select a branch."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaulted = [(p.arg, i) for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)]
    defaulted += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return [(name, i) for name, i in defaulted if name in branch]


def _calls(sources: list[str]) -> dict[str, list[tuple[list, list]]]:
    """callee name -> [(positional args, keywords)] of every call."""
    out = {}
    for text in sources:
        for node in ast.walk(ast.parse(text)):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            if _callee(func) == "partial" and args:
                func, args = args[0], args[1:]
            name = _callee(func)
            if name is not None:
                out.setdefault(name, []).append((args, node.keywords))
    return out


def _callee(func: ast.AST) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _is_set(calls: list[tuple[list, list]], option: str, index: int | None) -> bool:
    for args, keywords in calls:
        if any(k.arg is None or k.arg == option for k in keywords):
            return True
        if index is not None and (
            index < len(args) or any(isinstance(a, ast.Starred) for a in args)
        ):
            return True
    return False


def unset_options(
    package: dict[str, str], roots: dict[str, str], exempt: set[str] = frozenset()
) -> list[str]:
    """`path:line module.f(option)` of every package option no call in a
    root or in package code sets; options named in `exempt` are skipped."""
    calls = _calls(list(roots.values()) + list(package.values()))
    functions = [
        (path, entry)
        for path, text in package.items()
        for entry in _functions(path, ast.parse(text))
    ]
    branch = _branch_params([entry for _, entry in functions])
    out = []
    for path, (name, fn, callees, offset) in functions:
        sites = [c for callee in callees for c in calls.get(callee, [])]
        for option, index in _options(fn, branch[name]):
            key = f"{name}({option})"
            pos = None if index is None else index - offset
            if key not in exempt and not _is_set(sites, option, pos):
                out.append(f"{path}:{fn.lineno} {key}")
    return sorted(out)


def _env_key(node: ast.AST, parents: dict) -> str:
    """The variable an environment access names: the first argument of the
    call (`getenv("X")`, `environ.get("X")`) or the subscript
    (`environ["X"]`) when it is a string literal, else `?`."""
    up = parents.get(node)
    if isinstance(up, ast.Attribute):
        up = parents.get(up)
    key = None
    if isinstance(up, ast.Call) and up.args:
        key = up.args[0]
    elif isinstance(up, ast.Subscript):
        key = up.slice
    if isinstance(key, ast.Constant) and isinstance(key.value, str):
        return key.value
    return "?"


def env_reads(package: dict[str, str], exempt: set[str] = frozenset()) -> list[str]:
    """`path:line module(VAR)` of every environment access in `package`;
    reads named in `exempt` are skipped."""
    out = []
    for path, text in package.items():
        module = os.path.splitext(os.path.basename(path))[0]
        tree = ast.parse(text)
        parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            else:
                continue
            if name not in ("environ", "getenv"):
                continue
            key = f"{module}({_env_key(node, parents)})"
            if key not in exempt:
                out.append(f"{path}:{node.lineno} {key}")
    return sorted(out)


def cache_calls(sources: dict[str, str], owner: str) -> list[str]:
    """`path:line name` of every CACHE_CALLS call outside the `owner` module."""
    out = []
    for path, text in sources.items():
        if path == owner:
            continue
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.Call) and _callee(node.func) in CACHE_CALLS:
                out.append(f"{path}:{node.lineno} {_callee(node.func)}")
    return sorted(out)


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


def test_every_option_has_a_shipped_setter():
    package, roots = _read_tree([PKG]), _read_tree(ROOTS, ROOT_EXCLUDED)
    unset = unset_options(package, roots, set(EXEMPT_OPTIONS))
    assert not unset, "options no shipped call sets:\n" + "\n".join(unset)
    # an exemption whose option is gone or now has a setter is stale
    names = {entry.split()[1] for entry in unset_options(package, roots)}
    assert set(EXEMPT_OPTIONS) <= names, set(EXEMPT_OPTIONS) - names


def test_package_reads_no_environment_knob():
    package = _read_tree([PKG])
    reads = env_reads(package, set(EXEMPT_ENV))
    assert not reads, "environment reads in package code:\n" + "\n".join(reads)
    # an exemption whose read is gone is stale
    names = {entry.split()[1] for entry in env_reads(package)}
    assert set(EXEMPT_ENV) <= names, set(EXEMPT_ENV) - names


def test_only_checkpoints_module_caches_or_checkpoints():
    calls = cache_calls(_read_tree([PKG, "__spark_entry__.py"]), CACHE_OWNER)
    assert not calls, (
        "cache/checkpoint calls outside sources/checkpoints.py (use barrier() "
        "or cached()):\n" + "\n".join(calls)
    )


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


_OPTS = '''
from functools import partial


def in_test(x, lane=False):
    return 1 if lane else 0


def by_keyword(x, lane=False):
    if lane:
        return 1


def by_position(x, lane=False):
    while lane:
        lane = False


def by_partial(x, lane=False):
    return 1 if lane else 0


def by_kwargs(x, lane=False):
    return 1 if lane else 0


def exempt_lane(x, lane=False):
    return 1 if lane else 0


def not_an_option(x, width=3):
    return x * width


def _branches(x, lane):
    return 1 if lane else 0


def forwards_unset(x, lane=False):
    return _branches(x, lane)


def forwards_twice(x, lane=False):
    return forwards_unset(x, lane=lane)


def forwards_set(x, lane=False):
    return partial(_branches, x, lane=lane)()


def forwards_width(x, width=3):
    return not_an_option(x, width)


class Box:
    def __init__(self, lane=False):
        self.v = 1 if lane else 0

    def method(self, lane=False):
        return 1 if lane else 0

    def unset_method(self, x, lane=False):
        return 1 if lane else 0


def caller():
    by_keyword(1, lane=True)
    by_position(1, True)
    partial(by_partial, 1, True)
    opts = {"lane": True}
    by_kwargs(1, **opts)
    Box(lane=True).method(True)
    Box().unset_method(True)
    forwards_twice(1)
    forwards_set(1, lane=True)
    forwards_width(1, 4)
'''


_ENV = '''
import os
from os import environ, getenv

A = os.environ.get("KNOB_A", "1")
B = os.getenv("KNOB_B")
C = environ["KNOB_C"]
D = "KNOB_D" in os.environ


def knob(name):
    return getenv(name)
'''


_CACHES = '''
"""Docstring naming df.persist() and localCheckpoint."""
from ala_name_matching_spark.sources.checkpoints import barrier, cached

persisted = 1  # df.unpersist() in a comment


def lane(df, other):
    with cached(other):
        kept = barrier(df)
    df.persist()
    df.localCheckpoint(eager=True)
    other.unpersist()
    return kept.cache().checkpoint()
'''

_OWNER = '''
def barrier(df):
    return df.localCheckpoint(eager=True)


def cached(df):
    df.persist()
    df.unpersist()
'''


def test_guard_scanner_on_an_in_memory_package():
    package = {"pkg/lib.py": _LIB, "pkg/evaluate.py": _EXEMPT_MOD, "pkg/lib2.py": _LIB2}
    roots = {
        "entry.py": 'from pkg.lib import live_entry\nprint(f"{in_fstring()}")\n'
        "live_entry()  # in_comment\n",
    }
    # Options: set only from a test source (never passed as a root), or a
    # method's positional argument landing on an earlier parameter: flagged.
    # Set by keyword, position, partial(...), **kw or Class(...): live. A
    # defaulted parameter no branch tests is not an option. An exempt
    # option is skipped, and reported without the exemption. A parameter
    # passed on to a callee parameter that selects a branch is an option,
    # through any number of hops, by position, keyword or partial(...);
    # one passed on to a parameter no branch tests is not. A forwarding
    # call sets the callee's option, so a chain is reported at the
    # outermost function no call sets (forwards_twice, not forwards_unset).
    opts = {"pkg/opts.py": _OPTS}
    flagged = {
        "opts.Box.unset_method(lane)", "opts.in_test(lane)", "opts.forwards_twice(lane)"
    }
    unset = unset_options(opts, roots, {"opts.exempt_lane(lane)"})
    assert {u.split()[1] for u in unset} == flagged
    unset = unset_options(opts, roots)
    assert {u.split()[1] for u in unset} == flagged | {"opts.exempt_lane(lane)"}
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
    # Environment reads: environ.get, getenv, a subscript, a membership test
    # and a read by a non-literal name, by attribute or imported name, are
    # each reported once; the import itself is not a read. An exempt read
    # is skipped.
    reads = env_reads({"pkg/env.py": _ENV}, {"env(KNOB_A)"})
    assert sorted(r.split()[1] for r in reads) == [
        "env(?)", "env(?)", "env(KNOB_B)", "env(KNOB_C)"
    ]
    assert len(env_reads({"pkg/env.py": _ENV})) == 5
    # Cache calls: every call of a caching method outside the owner module
    # is reported, by attribute; the owner's own calls, the helpers, names,
    # comments and docstrings are not.
    calls = cache_calls({"pkg/lib.py": _CACHES, "pkg/ck.py": _OWNER}, "pkg/ck.py")
    assert [c.split()[1] for c in calls] == [
        "persist", "localCheckpoint", "unpersist", "cache", "checkpoint"
    ]


def test_guard_roots_hold_no_test_source():
    roots = _read_tree(ROOTS, ROOT_EXCLUDED)
    assert "__spark_entry__.py" in roots and "bench.py" in roots
    assert not [p for p in roots if "tests" in p.split(os.sep)]
