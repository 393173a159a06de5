"""Package-surface guard: every top-level package definition must be
reached from something that runs the system, not only from tests.

Roots are the non-test entry points (``bench.py``,
``__spark_entry__.py``, ``perfbench/``, ``scripts/``), the registry
entries (``@query`` builders), ``__all__`` lists, every package line
outside a top-level definition (module docstrings, imports, module-
level statements) and the names in ``KEEP``. A definition is reached
when its name occurs as a word in a root or inside a reached
definition; the walk is transitive, so a helper whose only caller is
itself unreached counts as unreached. Matching is by word, comments
and docstrings included, and not by module, which errs on the side of
"reached".

A definition that only tests reach is a second implementation, a
wrapper or a capability no workload runs: delete it with its tests, or
give it a reason in ``KEEP``. No Spark session; pure ``ast``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "hackmd_data_pipeline_spark"
ENTRY_POINTS = ("bench.py", "__spark_entry__.py", "perfbench", "scripts")

KEEP = {
    "rowgroup_skip_fraction":
        "the row-group pruning measurement behind the only test of the "
        "README-documented write_zordered layout",
    "ArxivAtomClient":
        "the real arXiv fetch path, a FetchFn for production runs; "
        "workloads fetch from seeded fixtures",
    "run_with_restarts":
        "the kill/restart end-to-end contract of CorpusPipeline",
    "PipelineConfig":
        "the reference's configuration model (config.yaml)",
    "RAW_BATCHES_SCHEMA":
        "the reference data model: the file-level work queue",
    "DOWNLOADED_PAPERS_SCHEMA":
        "the reference data model: the per-paper state table",
    "track_sessions":
        "the custom per-key state operator (applyInPandasWithState)",
}


def _py_files(path: Path):
    files = [path] if path.is_file() else sorted(path.rglob("*.py"))
    return [f for f in files
            if "tests" not in f.relative_to(REPO).parts
            and not f.name.startswith("test_")]


def _words(text: str) -> set[str]:
    return set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", text))


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign)
               else [])
    return [t.id for t in targets if isinstance(t, ast.Name)]


def _is_query(stmt: ast.stmt) -> bool:
    return any(isinstance(d, ast.Call) and getattr(d.func, "id", "") == "query"
               for d in getattr(stmt, "decorator_list", ()))


def unreached_definitions(keep=()) -> dict[str, str]:
    """``{name: module}`` for top-level package definitions that no
    root reaches, with the names in ``keep`` counted as roots."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    for f in _py_files(PACKAGE):
        module = str(f.relative_to(REPO))
        lines = f.read_text().splitlines()
        outside = list(lines)
        for stmt in ast.parse("\n".join(lines)).body:
            names = _defined_names(stmt)
            if not names or "__all__" in names or _is_query(stmt):
                continue
            first = min([stmt.lineno]
                        + [d.lineno for d in getattr(stmt, "decorator_list", ())])
            text = "\n".join(lines[first - 1:stmt.end_lineno])
            outside[first - 1:stmt.end_lineno] = [""] * (stmt.end_lineno - first + 1)
            for name in names:
                defs.setdefault(name, []).append((module, _words(text) - {name}))
        roots |= _words("\n".join(outside))
    for entry in ENTRY_POINTS:
        for f in _py_files(REPO / entry):
            roots |= _words(f.read_text())

    reached: set[str] = set()
    frontier = (roots | set(keep)) & defs.keys()
    while frontier:
        reached |= frontier
        frontier = {ref for name in frontier for _, refs in defs[name]
                    for ref in refs} & defs.keys() - reached
    return {name: sites[0][0] for name, sites in defs.items()
            if name not in reached}


def test_no_package_definition_is_reached_only_from_tests():
    orphans = unreached_definitions(KEEP)
    assert not orphans, (
        "package definitions that only tests reach; delete them with "
        f"their tests or add a reason to KEEP: {sorted(orphans.items())}")


def test_keep_list_names_only_unreached_definitions():
    """A kept name that a workload reaches needs no reason, and a name
    that no longer exists is stale: both leave ``KEEP``."""
    stale = set(KEEP) - set(unreached_definitions())
    assert not stale, f"KEEP entries that are reached or gone: {sorted(stale)}"
