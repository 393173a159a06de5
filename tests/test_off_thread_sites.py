"""Off-thread Spark work has one form each, and the guard keeps it
so: thread pools only in ``_write_shingles_and_signatures``
(``operators/dedup_store.py``), streaming queries only in ``drain``
(``session.py``). Both run their work through ``in_caller_group``, so
a job started off the caller's thread still counts under the
caller's job group; a second pool or ``writeStream`` site would
bypass that. No Spark session; pure ``ast``.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "hackmd_data_pipeline_spark"

# {(module, top-level function): names it may use}
ALLOWED = {
    ("operators/dedup_store.py", "_write_shingles_and_signatures"):
        {"ThreadPoolExecutor"},
    ("session.py", "drain"): {"writeStream"},
}
GUARDED = {"ThreadPoolExecutor", "writeStream", "Thread"}


def _uses(node: ast.AST) -> set[str]:
    """Guarded names ``node`` refers to: as a name, an attribute, or
    an imported name (``threading.Thread``, ``.writeStream``,
    ``from concurrent.futures import ThreadPoolExecutor``)."""
    found = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.alias):
            found.add(n.name.rsplit(".", 1)[-1])
    return found & GUARDED


def off_thread_sites() -> dict[tuple[str, str], set[str]]:
    """``{(module, top-level definition or "<module>"): guarded
    names}`` for every package site that starts Spark work off the
    caller's thread."""
    sites = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        module = str(f.relative_to(PACKAGE))
        for stmt in ast.parse(f.read_text()).body:
            used = _uses(stmt)
            if used:
                sites[(module, getattr(stmt, "name", "<module>"))] = used
    return sites


def test_off_thread_work_only_in_the_overlap_helper_and_drain():
    assert off_thread_sites() == ALLOWED, (
        "thread pools, threads and writeStream belong in the overlap "
        "helper and drain only, and both must exist")
