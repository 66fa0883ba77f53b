"""A KG build never starts Catalyst's SQL parser for a cast.

`Column.cast("array<string>")` sends the type string to the JVM, which
parses it with Catalyst's ANTLR grammar; the first such parse in a
process initialises the parser (~140 classes). A `pyspark.sql.types`
object travels as JSON instead and never touches it. So every `.cast(`
(or its alias `.astype(`) in a module `run_pipeline` reaches takes a type
object: this test fails on a string literal, an f-string, or a name
assigned one in the same module.

The reached modules are the import closure of `plans/pipeline.py` within
the package, imports inside functions included.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "serialization_agents_spark"
ROOT_MODULE = f"{PACKAGE}.plans.pipeline"


def _module_path(module: str) -> Path | None:
    base = REPO.joinpath(*module.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.exists():
            return path
    return None


def _reached_modules() -> dict[str, ast.Module]:
    """Module name -> tree, for ROOT_MODULE and every package module it
    imports, directly or through another reached module."""
    trees, todo = {}, [ROOT_MODULE]
    while todo:
        module = todo.pop()
        path = _module_path(module)
        if module in trees or path is None:
            continue
        trees[module] = tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                todo.extend(a.name for a in node.names if a.name.startswith(PACKAGE))
            elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
                # `from pkg.mod import name` may name a submodule too
                todo.append(node.module)
                todo.extend(f"{node.module}.{a.name}" for a in node.names)
    return trees


def _is_string(node: ast.expr) -> bool:
    return isinstance(node, ast.JoinedStr) or (
        isinstance(node, ast.Constant) and isinstance(node.value, str)
    )


def _string_casts(tree: ast.Module) -> list[int]:
    """Lines of `.cast(`/`.astype(` calls whose type is a string."""
    string_names = {
        t.id
        for node in ast.walk(tree) if isinstance(node, ast.Assign) and _is_string(node.value)
        for t in node.targets if isinstance(t, ast.Name)
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("cast", "astype")
        and node.args
        and (
            _is_string(node.args[0])
            or (isinstance(node.args[0], ast.Name) and node.args[0].id in string_names)
        )
    ]


def test_pipeline_casts_take_type_objects():
    reached = _reached_modules()
    stages = ["extract", "mentions", "linking", "merge", "canonicalize", "enumerate_ids", "triples"]
    for module in [*(f"operators.{s}" for s in stages), "plans.errors"]:
        assert f"{PACKAGE}.{module}" in reached, module
    bad = [
        f"{module}:{line}"
        for module, tree in sorted(reached.items())
        for line in sorted(_string_casts(tree))
    ]
    assert not bad, (
        "casts that pass a type string (use a pyspark.sql.types object, so "
        "the SQL parser stays out of the build):\n" + "\n".join(bad)
    )
