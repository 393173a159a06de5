"""Output normalization and digests for the correctness checks.

Query results are compared as digests: the column set, the row count,
an exact hash over every non-float column (values canonicalized by
the rules of the repository's oracle tests: ``None`` -> ``∅``, floats
-> 6 decimals), and per float column a few moments compared with a
small relative tolerance, so a reordered float sum does not fail a
run while a wrong value does.

Pipeline and store outputs are normalized so that a snapshot depends
only on the inputs: the run root, the writer's part-file names, the
collector's ``_ingest_date=`` partition (``current_date``) and
``updated_at`` stamps (``current_timestamp``) are masked.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import re

REL_TOL = 1e-6
ABS_TOL = 1e-9

_PART = re.compile(r"part-\d+-[0-9a-f][0-9a-f\-]+")
_INGEST_DATE = re.compile(r"_ingest_date=\d{4}-\d{2}-\d{2}")


def norm_path(v: str, root: str) -> str:
    """Strip the run root, the per-task part-file name and the ingest
    date partition from a lineage path."""
    v = v.replace(f"file://{root}", "<root>").replace(root, "<root>")
    v = _PART.sub("part-X", v)
    return _INGEST_DATE.sub("_ingest_date=<date>", v)


# columns stamped from the wall clock: ``updated_at`` (ledger and control
# flips), ``history_id`` (``uuid()``) and ``version`` (epoch seconds of
# the write) are dropped; the generated ``published``/``updated`` dates
# are kept as day offsets from the run date
DROPPED_COLUMNS = frozenset({"updated_at", "history_id", "version"})
RUN_DATE_COLUMNS = frozenset({"published", "updated", "published_date",
                              "updated_date"})


def norm_row(row: dict, root: str, run_date: dt.date) -> tuple:
    """One output row, independent of root, part names and calendar."""
    out = []
    for col in sorted(row):
        v = row[col]
        if col in DROPPED_COLUMNS:
            continue
        if col in RUN_DATE_COLUMNS and isinstance(v, dt.date):
            day = v.date() if isinstance(v, dt.datetime) else v
            rest = f"T{v.time()}" if isinstance(v, dt.datetime) else ""
            v = f"run{(day - run_date).days:+d}d{rest}"
        elif isinstance(v, str):
            v = norm_path(v, root)
        out.append((col, v))
    return tuple(out)


def canon(v) -> str:
    """One cell as the oracle tests canonicalize it; containers are
    canonicalized element by element."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}"
                              for k, x in sorted(v.items(), key=str)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _hash_lines(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def digest(rows: list[tuple], columns: list[str]) -> dict:
    """Digest of a result set; row order and column order are ignored."""
    float_cols = {i for i in range(len(columns))
                  if any(isinstance(r[i], float) for r in rows)}
    exact = [i for i in sorted(range(len(columns)), key=lambda i: columns[i])
             if i not in float_cols]
    floats = {}
    for i in float_cols:
        xs = [r[i] for r in rows if isinstance(r[i], float)]
        finite = [x for x in xs if math.isfinite(x)]
        floats[columns[i]] = {
            "n": len(xs), "nonfinite": sorted(str(x) for x in xs
                                              if not math.isfinite(x)),
            "sum": math.fsum(finite), "abs": math.fsum(abs(x) for x in finite),
            "min": min(finite, default=0.0), "max": max(finite, default=0.0)}
    return {"columns": sorted(columns), "rows": len(rows),
            "exact": _hash_lines(["\x1f".join(canon(r[i]) for i in exact)
                                  for r in rows]),
            "floats": floats}


def _close(a: float, b: float, scale: float) -> bool:
    return abs(a - b) <= max(ABS_TOL, REL_TOL * max(abs(a), abs(b), scale))


def compare(got: dict, want: dict) -> list[str]:
    """Differences between two digests; empty when they agree."""
    diffs = [f"{k}: {got[k]!r} != {want[k]!r}"
             for k in ("columns", "rows", "exact") if got[k] != want[k]]
    if set(got["floats"]) != set(want["floats"]):
        diffs.append(f"float columns {sorted(got['floats'])} != "
                     f"{sorted(want['floats'])}")
        return diffs
    for col, w in want["floats"].items():
        g = got["floats"][col]
        if g["n"] != w["n"] or g["nonfinite"] != w["nonfinite"]:
            diffs.append(f"{col}: float count or non-finite values differ")
            continue
        # the sum tolerance scales with the sum of magnitudes, so
        # cancellation in a reordered sum is not reported
        for key, scale in (("sum", w["abs"]), ("abs", 0.0),
                           ("min", 0.0), ("max", 0.0)):
            if not _close(g[key], w[key], scale):
                diffs.append(f"{col}.{key}: {g[key]!r} != {w[key]!r}")
    return diffs


def rows_hash(rows) -> str:
    """Order-independent hash of already-normalized rows."""
    return _hash_lines(["\x1f".join(canon(v) for v in r) for r in rows])
