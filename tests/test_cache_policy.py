"""One cache-and-spread policy, held by a pure-`ast` scan of the package
(no Spark, nothing imported).

- No function takes a cache registry: cached frames live until the
  session owner's `spark.catalog.clearCache()`.
- A frame is persisted only through `skew.persist`, or by the streaming
  micro-batch that unpersists its own batch before returning.
- `skew.spread_small_scan` is the one spread helper.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "index_search_monorepo_spark"
SKEW = "operators/skew.py"
# (module, enclosing function) pairs allowed to call .persist()/.cache()
PERSIST_SITES = {(SKEW, "persist"), ("streaming/incremental.py", "process_batch")}


def _functions():
    """(module path relative to the package, function node) for every
    function, nested ones included."""
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield rel, node


def _skew_aliases(tree: ast.Module) -> set[str]:
    """Names a module binds to the skew module (`import skew as SKW`)."""
    return {
        a.asname or a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module
        and node.module.endswith(".operators")
        for a in node.names
        if a.name == "skew"
    }


def test_no_function_takes_a_cache_registry():
    found = [
        f"{rel}:{fn.name}({a.arg})"
        for rel, fn in _functions()
        for a in fn.args.args + fn.args.kwonlyargs
        if a.arg in ("registry", "cache_registry")
    ]
    assert not found, found


def test_persist_only_through_the_skew_helper():
    found = []
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        tree = ast.parse(f.read_text(), str(f))
        skew = _skew_aliases(tree)

        def visit(node, fn_name):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn_name = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
                and not (
                    isinstance(node.func.value, ast.Name)
                    and node.func.value.id in skew
                )
                and (rel, fn_name) not in PERSIST_SITES
            ):
                found.append(f"{rel}:{node.lineno} in {fn_name}")
            for child in ast.iter_child_nodes(node):
                visit(child, fn_name)

        visit(tree, None)
    assert not found, found


def test_one_spread_helper():
    found = [
        f"{rel}:{fn.name}"
        for rel, fn in _functions()
        if "spread" in fn.name.lower() and rel != SKEW
    ]
    assert not found, found
