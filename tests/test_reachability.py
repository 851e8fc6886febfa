"""Every package module is reachable from an entry point.

A pure-`ast` import walk (no Spark, nothing imported) starts from the
repo's entry points and follows every `import` of the package, including
imports inside functions. A module that only tests import has no caller in
any job, benchmark or query-contract surface: give it one or delete it
with its tests.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "index_search_monorepo_spark"
ENTRY_POINTS = (
    "__spark_entry__.py", "bench.py", "bench_extra.py", "jobs/*.py", "perfbench/*.py",
)


def _package_modules() -> dict[str, Path]:
    mods = {}
    for f in (REPO / PACKAGE).rglob("*.py"):
        parts = f.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = f
    return mods


def _imported(path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules `path` imports, with every enclosing package."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            # `from pkg import sub` imports the submodule `pkg.sub`
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & mods.keys()


def unreachable_modules() -> list[str]:
    mods = _package_modules()
    todo = [f for pattern in ENTRY_POINTS for f in REPO.glob(pattern)]
    seen: set[str] = set()
    while todo:
        for mod in _imported(todo.pop(), mods) - seen:
            seen.add(mod)
            todo.append(mods[mod])
    return sorted(mods.keys() - seen)


def test_every_package_module_is_reached_from_an_entry_point():
    missing = unreachable_modules()
    assert not missing, f"{len(missing)} modules no entry point imports: {missing}"
