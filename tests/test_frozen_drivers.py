"""The frozen benchmark drivers still run against the package.

`bench.py` and `perfbench/*.py` are frozen: a change to the package must
keep working everything they use. Their source is read with `ast` (never
run) and, for every package name they import, this checks that the name
still exists, that `inspect.signature` accepts each call they make to it
(positional count and keyword names), and that every parameter default
they read through `inspect.signature(...).parameters[...]` still exists.
A deletion that would break the benchmark fails here instead of in a
benchmark run.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "index_search_monorepo_spark"
FROZEN = sorted([REPO / "bench.py", *(REPO / "perfbench").glob("*.py")])


def _uses(path: Path):
    """(imported names, calls, inspected defaults) of one driver file.

    Calls are (local name, n positional, keywords) for `name(...)` on a
    package import; calls with `*args` or `**kwargs` are not checkable and
    are skipped."""
    tree = ast.parse(path.read_text(), str(path))
    imported = {}  # local name -> (module, name)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            for a in node.names:
                imported[a.asname or a.name] = (node.module, a.name)
    calls, defaults = [], []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        if not (isinstance(node.func, ast.Name) and node.func.id in imported):
            continue
        starred = any(isinstance(a, ast.Starred) for a in node.args) or any(
            k.arg is None for k in node.keywords
        )
        if not starred:
            calls.append((node.func.id, len(node.args), [k.arg for k in node.keywords]))
    # inspect.signature(fn).parameters["name"]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "parameters"
            and isinstance(node.value.value, ast.Call)
            and isinstance(node.value.value.func, ast.Attribute)
            and node.value.value.func.attr == "signature"
            and isinstance(node.value.value.args[0], ast.Name)
            and isinstance(node.slice, ast.Constant)
        ):
            defaults.append((node.value.value.args[0].id, node.slice.value))
    return imported, calls, defaults


@pytest.mark.parametrize("path", FROZEN, ids=lambda p: p.relative_to(REPO).as_posix())
def test_frozen_driver_calls_still_bind(path):
    imported, calls, defaults = _uses(path)
    missing, unbound = [], []
    objs = {}
    for local, (module, name) in imported.items():
        try:
            objs[local] = getattr(importlib.import_module(module), name)
        except (AttributeError, ImportError):
            missing.append(f"{module}.{name}")
    for local, n_pos, keywords in calls:
        if local not in objs:
            continue
        try:
            inspect.signature(objs[local]).bind_partial(
                *[None] * n_pos, **dict.fromkeys(keywords)
            )
        except TypeError as e:
            unbound.append(f"{imported[local][1]}({n_pos} positional, {keywords}): {e}")
    for local, param in defaults:
        sig = inspect.signature(objs[local])
        p = sig.parameters.get(param)
        if p is None or p.default is inspect.Parameter.empty:
            unbound.append(f"{imported[local][1]} has no default for {param!r}")
    assert not missing, f"{path.name} imports names the package lost: {missing}"
    assert not unbound, f"{path.name} makes calls the package no longer takes: {unbound}"


def test_guard_sees_the_driver_calls():
    """The walk finds the calls the benchmark depends on (a guard that
    parsed nothing would pass vacuously)."""
    found = {}
    for path in FROZEN:
        imported, calls, defaults = _uses(path)
        for local, _, keywords in calls:
            found.setdefault(imported[local][1], set()).update(keywords)
        for local, param in defaults:
            found.setdefault(imported[local][1], set()).add(param)
    assert {"run_extraction_job", "extract_documents", "get_spark",
            "generate_corpus", "salted_repartition"} <= found.keys()
    assert "skip_if_scan_parallel" in found["salted_repartition"]
    assert "page_threshold" in found["extract_documents"]
    assert "doc_meta_join" in found["extract_documents"]
