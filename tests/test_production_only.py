"""The package ships production code only.

Every public top-level function or class in `serialization_agents_spark`
must be used by some file outside `tests/`: the package itself, `tools/`,
`bench.py`, `__spark_entry__.py` or `perfbench/`. A definition whose only
users are tests is a parity reference (it belongs under `tests/`) or an
entry point nothing runs (it cannot be certified, so it goes).

A use is a name, attribute or import reference outside the definition's
own body. A re-export in an `__init__.py` is not a use. Python source held
in a string constant (the worker script `tools/cluster_scaling.py` runs
in a fresh process) is scanned like a file. `@query` functions are
reached through the `queries()` registry and are exempt.

The same holds for options: every defaulted parameter must take two
values across the non-test calls. A parameter that production always
passes one value is a constant (a literal or an ALL_CAPS module
constant, which a test may monkeypatch); an option that varies only in
tests exists only for tests. `@query` functions, the
`__spark_entry__.__all__` names and the `perfbench/` definitions are
exempt, and so is `synth.py` (see SYNTH).

Every keyword argument of a non-test call must name a parameter of the
definition it calls, unless that definition takes `**kwargs`. Tier-1
never runs `bench.py`, `tools/` or the embedded worker script, so a
keyword left behind by a deleted parameter would otherwise fail only
when that code runs.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "serialization_agents_spark"
# perfbench/run.py::corpus_key hashes synth.py: editing it re-keys the
# benchmark corpus and drops its checksum reference, so its options stay.
SYNTH = PACKAGE / "synth.py"
_SKIP_DIRS = {"tests", ".git", ".claude", "__pycache__", ".perfbench", "spark-warehouse"}


def _user_files() -> list[Path]:
    return sorted(
        p for p in REPO.rglob("*.py")
        if not _SKIP_DIRS.intersection(p.relative_to(REPO).parts)
    )


def _is_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def _embedded_sources(tree: ast.AST) -> list[ast.Module]:
    """String constants that parse as Python modules with imports."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and "import" in node.value:
            try:
                sub = ast.parse(node.value)
            except SyntaxError:
                continue
            if any(isinstance(n, (ast.Import, ast.ImportFrom)) for n in ast.walk(sub)):
                out.append(sub)
    return out


def _references(tree: ast.AST, reexport: bool) -> list[tuple[str, int]]:
    """(name, line) for each name, attribute and import reference."""
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
        elif isinstance(node, ast.ImportFrom) and not reexport:
            refs.extend((a.name, node.lineno) for a in node.names)
    return refs


def test_every_public_definition_has_a_non_test_user():
    definitions = {}  # name -> [(file, first line, last line)]
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not _is_query(node)
            ):
                definitions.setdefault(node.name, []).append(
                    (path, node.lineno, node.end_lineno)
                )

    used = set()
    for path in _user_files():
        tree = ast.parse(path.read_text())
        reexport = path.name == "__init__.py"
        for name, line in _references(tree, reexport):
            own = any(
                path == f and lo <= line <= hi for f, lo, hi in definitions.get(name, ())
            )
            if not own:
                used.add(name)
        for sub in _embedded_sources(tree):
            used.update(name for name, _ in _references(sub, reexport=False))

    unused = sorted(
        f"{path.relative_to(REPO)}::{name}"
        for name, defs in definitions.items() if name not in used
        for path, _, _ in defs
    )
    assert not unused, (
        "public definitions used only by tests (move them under tests/ or "
        "delete them):\n" + "\n".join(unused)
    )


_VARIES = "varies"
_FUNCTION = (ast.FunctionDef, ast.AsyncFunctionDef)


def _defaulted(fn: ast.AST) -> dict[str, ast.expr]:
    """Parameter name -> default expression, for each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {p.arg: d for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


def _calls(tree: ast.AST) -> list[tuple[ast.Call, ast.AST | None]]:
    """(call, innermost enclosing function definition or None) for each call."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                out.append((child, fn))
            visit(child, child if isinstance(child, _FUNCTION) else fn)

    visit(tree, None)
    return out


def _passed(call: ast.Call, fn: ast.AST, param: str) -> ast.expr | None:
    """The expression `call` passes for `fn`'s `param`; None if it omits
    it; the call itself if `*args`/`**kwargs` hide whether it does."""
    for k in call.keywords:
        if k.arg == param:
            return k.value
    if any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    ):
        return call
    positional = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    if positional[:1] in (["self"], ["cls"]) and isinstance(call.func, ast.Attribute):
        positional = positional[1:]
    if param in positional and positional.index(param) < len(call.args):
        return call.args[positional.index(param)]
    return None


_REPO_ROOTS = {p.stem for p in REPO.iterdir()}  # top-level modules and packages


def _repo_module_aliases(tree: ast.AST) -> set[str]:
    """Local names that `import` / `from ... import` bind to this
    repository's modules (or to names inside them)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(
                (a.asname or a.name).split(".")[0]
                for a in node.names if a.name.split(".")[0] in _REPO_ROOTS
            )
        elif isinstance(node, ast.ImportFrom) and (
            node.level or (node.module or "").split(".")[0] in _REPO_ROOTS
        ):
            out.update(a.asname or a.name for a in node.names)
    return out


@functools.cache
def _call_graph():
    """(trees, unique, calls, entry_all) over the non-test files: each
    file's tree; name -> (file, definition) for the function names
    defined exactly once outside perfbench/; name -> [(call, enclosing
    function, file)] for every call of such a name, embedded sources
    included; and `__spark_entry__.__all__`.

    A call counts when it names the function bare (`f(...)`) or as an
    attribute of a module imported from this repository (`D.f(...)`),
    not as a method of some other object (`subprocess.run(...)`)."""
    trees = {path: ast.parse(path.read_text()) for path in _user_files()}
    entry_all = next(
        ast.literal_eval(node.value)
        for node in trees[REPO / "__spark_entry__.py"].body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
    )
    defs = {}  # name -> [(file, function definition)]
    for path, tree in trees.items():
        if path.relative_to(REPO).parts[0] != "perfbench":
            for node in ast.walk(tree):
                if isinstance(node, _FUNCTION):
                    defs.setdefault(node.name, []).append((path, node))
    unique = {name: ds[0] for name, ds in defs.items() if len(ds) == 1}
    calls = {}  # name -> [(call, enclosing function, file)]
    for path, tree in trees.items():
        for sub in [tree, *_embedded_sources(tree)]:
            ours = _repo_module_aliases(sub)
            for call, encl in _calls(sub):
                f = call.func
                if isinstance(f, ast.Name):
                    name = f.id
                elif isinstance(f, ast.Attribute) and getattr(f.value, "id", None) in ours:
                    name = f.attr
                else:
                    continue
                if name in unique:
                    calls.setdefault(name, []).append((call, encl, path))
    return trees, unique, calls, entry_all


def test_every_option_has_two_values_in_use():
    """Every defaulted parameter must take at least two values across
    the non-test calls, or one that varies.

    Each call contributes one entry: the literal it passes (or the default
    when it omits the parameter); for a bare name that is a defaulted
    parameter of the enclosing function, that parameter's own values; for
    an ALL_CAPS constant, that constant; for any other expression,
    "varies". A single value means the option exists only for tests.
    `@query` functions and the `__spark_entry__.__all__` names are called
    by the external driver and are exempt; so are SYNTH's options.
    """
    _trees, unique, calls, entry_all = _call_graph()

    memo = {}

    def values(name, param):
        if name not in unique or name in entry_all or _is_query(unique[name][1]):
            return {_VARIES}
        if (name, param) not in memo:
            memo[name, param] = set()  # a cycle adds nothing
            fn = unique[name][1]
            memo[name, param] = set().union(*(
                value(_defaulted(fn)[param], None) if expr is None else value(expr, encl)
                for call, encl, _path in calls.get(name, ())
                for expr in [_passed(call, fn, param)]
            ))
        return memo[name, param]

    def value(expr, encl):
        try:
            return {repr(ast.literal_eval(expr))}
        except (ValueError, TypeError, SyntaxError):
            pass
        if isinstance(expr, ast.Name):
            if encl is not None and expr.id in _defaulted(encl):
                return values(encl.name, expr.id)
            if expr.id.isupper():
                return {expr.id}
        if isinstance(expr, ast.Attribute) and expr.attr.isupper():
            return {expr.attr}
        return {_VARIES}

    single = [
        f"{'.'.join(path.relative_to(REPO).with_suffix('').parts)}.{name}({param}): "
        + (", ".join(sorted(vals)) or "no call")
        for name, (path, fn) in sorted(unique.items()) if path != SYNTH
        for param in sorted(_defaulted(fn))
        for vals in [values(name, param)]
        if len(vals) < 2 and _VARIES not in vals
    ]
    assert not single, (
        "options whose every non-test caller passes one value (make the "
        "value a constant and delete the option):\n" + "\n".join(single)
    )


def test_every_keyword_names_a_parameter():
    """A keyword argument in a non-test call names a parameter of the
    definition it calls (unless that definition takes `**kwargs`)."""
    _trees, unique, calls, _entry_all = _call_graph()
    stale = []
    for name, sites in sorted(calls.items()):
        path, fn = unique[name]
        if fn.args.kwarg is not None:
            continue
        params = {p.arg for p in fn.args.args + fn.args.kwonlyargs}
        stale.extend(
            f"{site.relative_to(REPO)}:{call.lineno}: {name}({k.arg}=...)"
            for call, _encl, site in sites
            for k in call.keywords
            if k.arg is not None and k.arg not in params
        )
    assert not stale, (
        "keyword arguments that name no parameter of the called "
        "definition:\n" + "\n".join(stale)
    )
