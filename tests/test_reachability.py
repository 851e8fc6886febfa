"""Every package module, and every top-level package function, is reachable
from an entry point.

Both walks are pure `ast` (no Spark, nothing imported) and start from the
repo's entry points.

Modules: follow every `import` of the package, including imports inside
functions. A module that only tests import has no caller in any job,
benchmark or query-contract surface: give it one or delete it with its
tests.

Functions: a name-based walk. The roots are every name an entry-point file
mentions, every name in a package module's top-level statements other than
imports and definitions (constants, registries, decorator expressions), and
every `@register`ed contract query. A top-level function or class is
reached when a root or a reached body mentions its name (in any module:
the walk is by name, so it errs toward reached); reaching one walks its
body. Docstrings, comments, `__all__` lists and re-exports name a
function without calling it, so they do not count. An unreached function
needs a caller, an entry in KEEP saying why it stays, or deletion.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "index_search_monorepo_spark"
ENTRY_POINTS = (
    "__spark_entry__.py", "bench.py", "bench_extra.py", "jobs/*.py", "perfbench/*.py",
)

# Modules whose unreached functions stay as a whole.
_CODEC = (
    "media codec stack behind the one multimodal_meta gate entry; whether it "
    "stays is the owner's scope decision (ROADMAP item 5), and trimming it "
    "changes that entry's oracle text"
)
EXEMPT_MODULES = {
    "operators.multimodal": _CODEC,
    "operators.mpeg1": _CODEC,
    "operators.jpeg": _CODEC,
    "operators.jpeg_arith": _CODEC,
    "operators.jpeg_progressive": _CODEC,
    "operators.jpeg_hierarchical": _CODEC,
    "operators.ccitt": _CODEC,
    "operators.sketches": (
        "mergeable sketch algebra (the *_merge functions, with the *_py "
        "mirrors the tests check the sketches against) that run records "
        "combining counts across resumed runs may use (ROADMAP item 3)"
    ),
}

_MIRROR = "pure-Python mirror the tests check a reached Spark path against"
_ORACLE = "reference oracle the tests check the extraction job's output against"
_TEST_ONLY = (
    "only tests call it (a docstring, `__all__` or package re-export names "
    "it, which is no caller); give it a caller or delete it (ROADMAP item 5)"
)
# Unreached top-level functions that stay, each with its reason.
KEEP = {
    "oracle.reference_oracle.oracle_allfields": _ORACLE,
    "oracle.reference_oracle.oracle_item_metadata": _ORACLE,
    "oracle.reference_oracle.oracle_mets_fields": _ORACLE,
    "oracle.reference_oracle.oracle_mysql_fields": _ORACLE,
    "oracle.reference_oracle.oracle_pairtree_sanitize": (
        _MIRROR + " (functions.text.pairtree_sanitize_expr)"
    ),
    "oracle.reference_oracle.oracle_pairtree_path": (
        _MIRROR + " (functions.text.pairtree_path_expr)"
    ),
    "oracle.reference_oracle.oracle_doc_id_from_zip_path": (
        "the reference's zip stem -> ht_id rule, the inverse of the pairtree "
        "sanitize, pinned by the reference's golden values"
    ),
    "operators.urlnorm.canonical_url_py": _MIRROR + " (with_canonical_url)",
    "operators.urlnorm._pct_normalize_py": _MIRROR + " (canonical_url_py's step)",
    "operators.urlnorm._remove_dot_segments_py": (
        _MIRROR + " (canonical_url_py's step)"
    ),
    "operators.packing.ffd_pack_py": _MIRROR + " (pack_bins_ffd)",
    "search.engine.bm25_e6_oracle_sql": (
        "DuckDB SQL the tests check with_bm25_score_e6 against"
    ),
    "search.suggest.kwic_oracle_sql": "DuckDB SQL the tests check with_snippet against",
    "search.suggest.suggestion_oracle_sql": (
        "DuckDB SQL the tests check fuzzy_suggestions against"
    ),
    "operators.pdf.build_pdf": "writes the conformant PDFs parse_pdf's tests read",
    "operators.postings.delta_decode_expr": (
        "decode half of compress_postings' round-trip tests"
    ),
    "operators.postings.varint_decode_expr": (
        "decode half of compress_postings' round-trip tests"
    ),
    "operators.robots.robots_decision": (
        "composes the reached robots kernels for their tests"
    ),
    "functions.jsonops.json_drift_report": _TEST_ONLY,
    "operators.bpe.train_bpe": _TEST_ONLY,
    "operators.diff.symmetric_id_diff": _TEST_ONLY,
    "operators.funnel.funnel_report": _TEST_ONLY,
    "operators.funnel.retention_matrix": _TEST_ONLY,
    "operators.kbart.read_holdings_tsv": _TEST_ONLY,
    "operators.layout.file_minmax": _TEST_ONLY,
    "operators.layout.zorder_layout": _TEST_ONLY,
    "operators.packing.pack_bins_ffd": _TEST_ONLY,
    "operators.postings.conjunctive_query": _TEST_ONLY,
    "operators.pq.pq_train": _TEST_ONLY,
    "operators.snapshots.expire_snapshots": _TEST_ONLY,
    "operators.snapshots.snapshot_diff_keys": _TEST_ONLY,
    "operators.temporal.scd2_lookup": _TEST_ONLY,
    "operators.textstats.adaptive_quality_filter": _TEST_ONLY,
    "operators.textstats.with_quality_score": _TEST_ONLY,
    "operators.textstats.with_quality_signals": _TEST_ONLY,
    "operators.textstats.with_token_count": _TEST_ONLY,
    "search.query.facet_params": _TEST_ONLY,
    "streaming.incremental.fold_lsh_verdicts": _TEST_ONLY,
    "streaming.incremental.streaming_lsh_bands": _TEST_ONLY,
    "streaming.incremental.streaming_lsh_dedup": _TEST_ONLY,
    "streaming.incremental.windowed_ingest_metrics": _TEST_ONLY,
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for f in (REPO / PACKAGE).rglob("*.py"):
        parts = f.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = f
    return mods


def _entry_files() -> list[Path]:
    return [f for pattern in ENTRY_POINTS for f in REPO.glob(pattern)]


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
    todo = _entry_files()
    seen: set[str] = set()
    while todo:
        for mod in _imported(todo.pop(), mods) - seen:
            seen.add(mod)
            todo.append(mods[mod])
    return sorted(mods.keys() - seen)


def _mentioned(node: ast.AST) -> set[str]:
    """Names and attribute names `node` mentions in code."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_register(decorator: ast.expr) -> bool:
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(f, "id", getattr(f, "attr", None)) == "register"


def unreached_functions() -> set[str]:
    """Top-level package functions no entry point reaches, as
    "<module>.<name>" with the module relative to the package."""
    defs: dict[str, ast.AST] = {}  # qualified name -> def node
    by_name: dict[str, list[str]] = {}
    roots: set[str] = set()
    for path in _entry_files():
        roots |= _mentioned(ast.parse(path.read_text(), str(path)))
    for path in sorted((REPO / PACKAGE).rglob("*.py")):
        mod = ".".join(path.relative_to(REPO / PACKAGE).with_suffix("").parts)
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                q = f"{mod}.{node.name}"
                defs[q] = node
                by_name.setdefault(node.name, []).append(q)
                for d in node.decorator_list:
                    roots |= _mentioned(d)
                    if _is_register(d):
                        roots.add(node.name)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _mentioned(node)
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        for q in by_name.get(todo.pop(), ()):
            if q not in reached:
                reached.add(q)
                todo.extend(_mentioned(defs[q]))
    return {
        q for q, node in defs.items()
        if q not in reached and not isinstance(node, ast.ClassDef)
    }


def test_every_package_module_is_reached_from_an_entry_point():
    missing = unreachable_modules()
    assert not missing, f"{len(missing)} modules no entry point imports: {missing}"


def test_every_package_function_is_reached_or_kept():
    unreached = unreached_functions()
    missing = sorted(
        q for q in unreached
        if q not in KEEP and q.rsplit(".", 1)[0] not in EXEMPT_MODULES
    )
    assert not missing, (
        f"{len(missing)} top-level functions no entry point reaches (give each "
        f"a caller, a KEEP reason, or delete it with its tests): {missing}"
    )
    stale = sorted(q for q in KEEP if q not in unreached)
    assert not stale, f"KEEP entries that are reached or gone: {stale}"
