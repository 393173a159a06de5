"""Package-surface guard: every top-level package definition must be
reached from something that runs the system, not only from tests.

Roots are the non-test entry points (``bench.py``,
``__spark_entry__.py``, ``perfbench/``, ``scripts/``), the registry
entries (``@query`` builders), ``__all__`` lists, every package line
outside a top-level definition (module docstrings, imports, module-
level statements) and the names in ``KEEP``. A definition is reached
when a root or a reached definition refers to it in code: as a name,
an attribute, an imported name, or a string constant that is a whole
identifier (a registry or ``getattr`` lookup). Docstrings and comments
reach nothing. The walk is transitive, so a helper whose only caller
is itself unreached counts as unreached. Matching is by name, not by
module, which errs on the side of "reached".

A definition that only tests reach is a second implementation, a
wrapper or a capability no workload runs: delete it with its tests, or
give it a reason in ``KEEP``. No Spark session; pure ``ast``.
"""

from __future__ import annotations

import ast
import textwrap
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
    "compact_store":
        "the only bound on a dedup store's epoch growth; "
        "table_file_stats is reached through it",
    "compact_clusters":
        "the only bound on a dedup store's cluster-overlay growth",
    "train_bpe_merges":
        "the provenance of PINNED_BPE_MERGES (test_bpe re-derives it); "
        "train_merges_from_word_freq is reached through it",
    "PAPER_SCHEMA":
        "the reference data model: the canonical paper table",
    "HISTORY_SCHEMA":
        "the reference data model: the paper history table",
    "run_neardup_ingest":
        "the README-documented near-dup streaming ingest; _read_clean "
        "is reached through it",
    "validate_battery":
        "the cross-engine check that verifies the shipped "
        "REDACTION_PATTERNS",
}


def _py_files(path: Path):
    files = [path] if path.is_file() else sorted(path.rglob("*.py"))
    return [f for f in files
            if "tests" not in f.relative_to(REPO).parts
            and not f.name.startswith("test_")]


def _refs(node: ast.AST) -> set[str]:
    """The names ``node`` refers to in code: names, attributes,
    imported names and identifier strings; prose is not code."""
    found = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.alias):
            found.update(n.name.split("."))
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            found.add(n.value)
    return found


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
        for stmt in ast.parse(f.read_text()).body:
            names = _defined_names(stmt)
            if not names or "__all__" in names or _is_query(stmt):
                roots |= _refs(stmt)
                continue
            for name in names:
                defs.setdefault(name, []).append((module, _refs(stmt) - {name}))
    for entry in ENTRY_POINTS:
        for f in _py_files(REPO / entry):
            roots |= _refs(ast.parse(f.read_text()))

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


def test_prose_reaches_nothing(tmp_path, monkeypatch):
    """A name in a docstring or a comment is not a use: only code
    (a name, an attribute, an import or an identifier string) reaches
    a definition."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(textwrap.dedent('''\
        """Module docs that mention only_in_prose()."""

        # only_in_prose is named in this comment too


        def only_in_prose():
            return 1


        def by_string():
            return 2


        def caller():
            """Unlike only_in_prose, by_string is looked up."""
            return globals()["by_string"]()


        __all__ = ["caller"]
        '''))
    monkeypatch.setitem(globals(), "REPO", tmp_path)
    monkeypatch.setitem(globals(), "PACKAGE", pkg)
    assert unreached_definitions() == {"only_in_prose": "pkg/mod.py"}
