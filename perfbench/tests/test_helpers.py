"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402
from harness import interval_union, ledger_gaps, tail_percentile  # noqa: E402


# ------------------------------------------------------------ percentiles

def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]           # 1..100
    pct, value = tail_percentile(xs)
    assert pct == 90 and value == 90.0
    assert sum(x > value for x in xs) == 10

    xs = [float(i) for i in range(50, 0, -1)]        # 50..1, unsorted
    pct, value = tail_percentile(xs)
    assert pct == 80 and value == 40.0
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_falls_back_to_median_below_twenty_samples():
    assert tail_percentile([3.0, 1.0, 2.0]) == (50, 2.0)
    assert tail_percentile([float(i) for i in range(19)]) == (50, 9.0)
    pct, value = tail_percentile([float(i) for i in range(20)])
    assert (pct, value) == (50, 9.0)
    assert tail_percentile([]) == (50, 0.0)


def test_interval_union_clips_and_merges():
    assert interval_union([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert interval_union([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert interval_union([], 0, 1) == 0.0


def test_ledger_gaps_are_the_time_around_the_stages():
    stages = [(2.0, 5.0), (6.0, 9.5)]
    # 1 s before the first claim, 1 s between stages, 0.5 s after
    assert ledger_gaps(stages, 1.0, 10.0) == 2.5
    assert ledger_gaps(stages[::-1], 1.0, 10.0) == 2.5
    assert ledger_gaps([], 1.0, 3.0) == 2.0
    assert ledger_gaps([(0.0, 4.0)], 0.0, 4.0) == 0.0


# ---------------------------------------------------------- normalization

def test_norm_path_masks_root_part_names_and_ingest_date():
    root = "/tmp/run-a"
    raw = (f"file://{root}/raw/_cat=cs_AI/_ingest_date=2026-10-17/"
           "part-00003-1b2c3d4e-aaaa-bbbb-cccc-0123456789ab.c000.json.gz")
    assert checks.norm_path(raw, root) == (
        "<root>/raw/_cat=cs_AI/_ingest_date=<date>/part-X.c000.json.gz")
    other = raw.replace(root, "/elsewhere/run-b").replace("2026-10-17", "2027-01-02")
    assert checks.norm_path(other, "/elsewhere/run-b") == checks.norm_path(raw, root)


def test_norm_row_is_independent_of_root_and_calendar():
    def row(root, run_date):
        pub = dt.datetime.combine(run_date - dt.timedelta(days=12), dt.time())
        return {"entry_id": "doc-1", "published": pub,
                "published_date": pub.date(),
                "etl_timestamp": dt.datetime(2026, 1, 1),
                "s3_path": f"file://{root}/raw/_ingest_date={run_date}/part-00000-ab12.json",
                "updated_at": dt.datetime.now(), "history_id": "uuid-x",
                "version": 1760000000}

    a = checks.norm_row(row("/r/a", dt.date(2026, 10, 17)), "/r/a",
                        dt.date(2026, 10, 17))
    b = checks.norm_row(row("/r/b", dt.date(2027, 3, 1)), "/r/b",
                        dt.date(2027, 3, 1))
    assert a == b
    assert dict(a)["published"] == "run-12dT00:00:00"
    assert dict(a)["published_date"] == "run-12d"
    assert "updated_at" not in dict(a) and "history_id" not in dict(a)
    # a pinned timestamp is data, not wall clock: it is kept as is
    assert dict(a)["etl_timestamp"] == dt.datetime(2026, 1, 1)


# ---------------------------------------------------------------- digests

ROWS = [(1, "a", 0.1, [1.0, 2.0]), (2, "b", 0.2, None), (3, None, 1e6, [])]
COLS = ["id", "name", "x", "v"]


def test_digest_ignores_row_and_column_order():
    d = checks.digest(ROWS, COLS)
    shuffled = [(r[3], r[2], r[1], r[0]) for r in reversed(ROWS)]
    assert checks.compare(checks.digest(shuffled, COLS[::-1]), d) == []


def test_digest_tolerates_reordered_float_sums_only():
    d = checks.digest(ROWS, COLS)
    close = [(i, n, x * (1 + 1e-9), v) for i, n, x, v in ROWS]
    assert checks.compare(checks.digest(close, COLS), d) == []
    off = [(i, n, x * (1 + 1e-4), v) for i, n, x, v in ROWS]
    assert checks.compare(checks.digest(off, COLS), d)


def test_digest_catches_exact_column_and_shape_changes():
    d = checks.digest(ROWS, COLS)
    assert checks.compare(checks.digest(ROWS[:2], COLS), d)
    renamed = checks.digest(ROWS, ["id", "name", "y", "v"])
    assert checks.compare(renamed, d)
    changed = [(1, "a", 0.1, [1.0, 2.5])] + ROWS[1:]
    assert checks.compare(checks.digest(changed, COLS), d)
    nan = [(1, "a", float("nan"), [1.0, 2.0])] + ROWS[1:]
    assert checks.compare(checks.digest(nan, COLS), d)


def test_canon_follows_the_oracle_rules():
    assert checks.canon(None) == "∅"
    assert checks.canon(float("nan")) == "NaN"
    assert checks.canon(1 / 3) == "0.333333"
    assert checks.canon({"b": 1, "a": 2.0}) == "{a:2.000000,b:1}"


# ----------------------------------------------------------------- inputs

def test_inputs_depend_only_on_the_seed():
    today = dt.date(2026, 10, 17)
    a, pa_ = datagen.corpus_categories(7, today)
    b, pb = datagen.corpus_categories(7, today)
    c, _ = datagen.corpus_categories(8, today)
    assert a == b and pa_ == pb and a != c
    assert len(pa_["distinct_ids"]) == pa_["records"] - pa_["cross_listed"]
    later, _ = datagen.corpus_categories(7, dt.date(2027, 1, 1))
    assert ([r["entry_id"] for v in later.values() for r in v]
            == [r["entry_id"] for v in a.values() for r in v])


@pytest.mark.parametrize("seed", [1, 2])
def test_store_copies_point_back_to_earlier_documents(seed):
    drops = datagen.store_drops(seed, 4)
    seen = set()
    for k, d in enumerate(drops):
        text = {r[0]: r[1] for r in d["doc_rows"]}
        assert len(d["copies"]) == datagen.COPIES_PER_DROP
        for orig, copy in d["copies"]:
            # the bootstrap drop copies its own documents, later drops
            # copy documents of earlier drops
            assert (orig in text and orig not in seen) if k == 0 else orig in seen
            assert copy > orig
            assert text[copy] == next(r[1] for e in drops for r in e["doc_rows"]
                                      if r[0] == orig)
        seen |= set(text)


# --------------------------------------------------------------- snapshots

def test_snapshot_fails_only_against_the_same_program(tmp_path, monkeypatch):
    ctx = workloads.Context(None, None, 7, 1.0, str(tmp_path / "w"),
                            str(tmp_path / "snaps"))
    keys = {"program": "p1"}
    monkeypatch.setattr(workloads, "snapshot_keys",
                        lambda: ("b1", keys["program"]))
    snap = {"canonical": "aa", "history": "bb"}
    assert workloads._same_snapshot(ctx, [snap])[0] == []       # written
    problems, info = workloads._same_snapshot(ctx, [snap])
    assert problems == [] and info["same_program"] is True
    assert workloads._same_snapshot(ctx, [dict(snap, history="cc")])[0]
    # another program may change its outputs: recorded, not failed
    keys["program"] = "p2"
    problems, info = workloads._same_snapshot(ctx, [dict(snap, history="cc")])
    assert problems == [] and info["other_programs"] == {"p1": ["history"]}
    assert workloads._same_snapshot(ctx, [snap, dict(snap, history="cc")])[0]


# -------------------------------------------------------------- processes

def test_stop_descendants_ends_children_and_orphans(tmp_path):
    """A child, its child, and an orphan whose parent has exited (as a
    Python worker outlives its JVM) are all stopped and reaped."""
    import subprocess
    import textwrap

    script = tmp_path / "spawn.py"
    script.write_text(textwrap.dedent(f"""
        import os, subprocess, sys, time
        sys.path.insert(0, {os.path.dirname(os.path.dirname(__file__))!r})
        from harness import _descendants, become_subreaper, stop_descendants
        become_subreaper()
        subprocess.Popen(["sh", "-c", "sleep 60 & exec sleep 60"])
        # the orphan: its parent shell exits at once
        subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 &"], check=True)
        time.sleep(0.3)
        before = len(_descendants(os.getpid()))
        stop_descendants(grace=0.5)
        print(before, len(_descendants(os.getpid())))
    """))
    out = subprocess.run([sys.executable, str(script)], capture_output=True,
                         text=True, timeout=30, check=True).stdout.split()
    assert out == ["3", "0"]
