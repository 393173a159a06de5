"""Measurement plumbing shared by the workloads: percentiles, the
process-tree RSS sampler, and the span tracer.

The tracer keeps spans in memory. With tracing on, a span that asks
for it also sets a Spark job group for its duration; after the
measured region ``Tracer.readback`` reads those groups back from
``statusTracker()`` and the status store, so tracing starts no Spark
job of its own. Jobs started from driver thread pools or from a
streaming query's thread do not inherit the group; they are counted
as untagged instead of being attributed to any layer.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs: list[float], min_beyond: int = MIN_BEYOND
                    ) -> tuple[int, float]:
    """The highest percentile that still has ``min_beyond`` samples
    above it, as ``(percentile, value)``. The value is the sample at
    rank ``n - min_beyond`` of the sorted list; the percentile is that
    rank as a whole share of ``n``. With fewer than ``2 * min_beyond``
    samples no such percentile is above the median, and the median is
    returned as ``(50, median)``."""
    n = len(xs)
    if n < 2 * min_beyond:
        return 50, median(xs)
    k = n - min_beyond
    return math.floor(100 * k / n), sorted(xs)[k - 1]


def interval_union(intervals: list[tuple[float, float]],
                   lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def ledger_gaps(stages: list[tuple[float, float]], lo: float, hi: float
                ) -> float:
    """Time in ``[lo, hi]`` outside the (non-overlapping) ``stages``:
    the gap before the first stage, between each stage's end and the
    next one's start, and after the last stage."""
    total, end = 0.0, lo
    for a, b in sorted(stages):
        total += max(0.0, a - end)
        end = max(end, b)
    return total + max(0.0, hi - end)


# ------------------------------------------------------------ processes

def _proc_tree(root: int) -> dict[int, tuple[str, int, float]]:
    """``root`` and all its descendants, from /proc, as ``{pid: (state,
    RSS bytes, CPU seconds)}``; CPU is user + system, including reaped
    children."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, int, float]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as fh:
                resident = int(fh.read().split()[1])
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        cpu = sum(int(x) for x in fields[11:15]) / tick
        stats[int(name)] = (fields[0], resident * page, cpu)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def _tree_stats(root: int) -> tuple[int, float]:
    """RSS bytes and CPU seconds summed over ``root`` and all its
    descendants."""
    tree = _proc_tree(root).values()
    return sum(r for _, r, _ in tree), sum(c for _, _, c in tree)


def _descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (zombies excluded)."""
    return [pid for pid, (state, _, _) in _proc_tree(root).items()
            if pid != root and state != "Z"]


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose JVM has exited
    is re-parented here, not to init, so ``stop_descendants`` still
    finds it and can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: give them ``grace`` seconds to exit on their
    own, then SIGTERM, then SIGKILL."""
    import signal

    deadline = time.monotonic() + grace
    sig = None
    while True:
        _reap()
        pids = _descendants(os.getpid())
        if not pids:
            _reap()
            return
        now = time.monotonic()
        if now >= deadline:
            sig = signal.SIGKILL if sig is not None else signal.SIGTERM
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline = now + grace
        time.sleep(0.05)


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process tree."""
    return _tree_stats(os.getpid())[1]


def _tree_rss_bytes(root: int) -> int:
    return _tree_stats(root)[0]


class RssSampler:
    """Peak RSS of this process tree (driver, JVM, Python workers),
    sampled every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# --------------------------------------------------------------- tracing

@dataclass
class Span:
    name: str
    start: float          # time.time(), comparable with status-store ms
    end: float = 0.0
    parent: str | None = None
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    stage_windows: list = field(default_factory=list)


class Tracer:
    """In-memory spans; job groups only when ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0
        self._first_job = 0

    def begin(self, name: str, group: bool = False, **attrs) -> Span | None:
        """Open a span; with ``group`` and tracing on, jobs started from
        this thread until ``end`` carry a job group of its own."""
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent.name if parent else None,
                 attrs=attrs)
        if group:
            self._n += 1
            s.group = f"bench:{self._n}:{name}"
            self.spark.sparkContext.setJobGroup(s.group, name)
        self._stack.append(s)
        return s

    def end(self) -> None:
        if not self.enabled:
            return
        s = self._stack.pop()
        s.end = time.time()
        if s.group:
            sc = self.spark.sparkContext
            outer = next((p for p in reversed(self._stack) if p.group), None)
            if outer:
                sc.setJobGroup(outer.group, outer.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.spans.append(s)

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        s = self.begin(name, group, **attrs)
        try:
            yield s
        finally:
            if s is not None:
                self.end()

    def _last_job_id(self) -> int:
        jobs = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def mark_region(self) -> None:
        """Start of the measured region: jobs of set-up and warm-up are
        not counted against it. (A status-store read, no Spark job, so
        it runs with tracing off too.)"""
        self._first_job = self._last_job_id() + 1

    def region_jobs(self) -> int:
        """Spark jobs started since ``mark_region``."""
        return self._last_job_id() + 1 - self._first_job

    def untagged_jobs(self) -> int:
        """Jobs of the measured region that carry no benchmark group:
        thread-pool jobs have none, and a streaming query's jobs carry
        the query's own run id instead."""
        if not self.enabled:
            return 0
        tracker = self.spark.sparkContext.statusTracker()
        ours = {j for s in self.spans if s.group
                for j in tracker.getJobIdsForGroup(s.group)}
        region = range(self._first_job, self._last_job_id() + 1)
        return sum(1 for j in region if j not in ours)

    def readback(self) -> dict[str, GroupStats]:
        """Per-group jobs, tasks, executor CPU, shuffle bytes and stage
        windows, from the status store."""
        out: dict[str, GroupStats] = {}
        if not self.enabled:
            return out
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for s in self.spans:
            if not s.group:
                continue
            g = out.setdefault(s.group, GroupStats())
            stage_ids: set[int] = set()
            for jid in tracker.getJobIdsForGroup(s.group):
                g.jobs += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:   # never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                g.tasks += st.numTasks()
                g.cpu_s += st.executorCpuTime() / 1e9
                g.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    g.stage_windows.append((sub.get().getTime() / 1e3,
                                            done.get().getTime() / 1e3))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
