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
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "serialization_agents_spark"
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
