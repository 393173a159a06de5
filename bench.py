#!/usr/bin/env python
"""Benchmark runner (driver contract, TESTDATA.md / BASELINE.md).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end (plan + execute + collect-to-count);
a warmup query first absorbs JVM/session startup so per-query numbers
measure the engine, not the JVM boot.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from hackmd_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from hackmd_data_pipeline_spark.session import get_spark  # noqa: E402


_HZ = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


class _TreeCPU:
    """CPU jiffies consumed by THIS process tree (bench driver + the
    Spark JVM + its python workers) — subtracting it from the host
    total isolates FOREIGN load, which raw loadavg cannot do once the
    bench's own 32-core bursts dominate the 1-minute average.
    Stateful: a python worker that EXITS between samples would drop
    its lifetime jiffies out of a naive tree sum, inflating "foreign"
    by that amount (first r08 run: 164 phantom foreign cores after a
    worker-churn window) — exited members' last-seen jiffies are
    retired into an accumulator instead."""

    def __init__(self) -> None:
        self._last: dict[int, int] = {}
        self._retired = 0

    def total(self) -> int:
        procs: dict[int, tuple[int, int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            parts = stat.rsplit(")", 1)[1].split()
            procs[int(d)] = (int(parts[1]), int(parts[11]) + int(parts[12]))
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in procs.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        live = {pid: j for pid, (_, j) in procs.items() if pid in tree}
        for pid, j in self._last.items():
            if pid not in live:
                self._retired += j
        self._last = live
        return sum(live.values()) + self._retired


_TREE_CPU = _TreeCPU()


def _host_busy_jiffies() -> int:
    vals = [int(x) for x in Path("/proc/stat").read_text()
            .splitlines()[0].split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    return sum(vals) - idle


def _foreign_cores(prev: tuple[int, int, float]) -> tuple[float, tuple]:
    """Average FOREIGN cores busy since ``prev`` sample; returns the
    new sample for chaining. Clamped to [0, cpus] — the tree total is
    exit-safe (retired accumulator) but a worker's growth in its final
    window is still unattributable, so the residual is bounded by the
    physical core count instead of trusted raw."""
    now = (_host_busy_jiffies(), _TREE_CPU.total(), time.monotonic())
    dt = max(now[2] - prev[2], 1e-3)
    foreign = max(0, (now[0] - prev[0]) - max(0, now[1] - prev[1]))
    cores = min(foreign / (_HZ * dt), float(os.cpu_count() or 64))
    return cores, now


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # settle guard (r05, VERDICT r04 "What's wrong" 2; tightened in r08
    # after the r07 driver artifact came out ~1.25x hot under loadavg
    # 3.45 — below the old 0.125*cpus=4.0 threshold). If the 1-min
    # loadavg carries foreign load, wait — bounded — for it to drain
    # before timing. This must run BEFORE the Spark session + 32-core
    # warmup (round-5 review): after warmup the 1-min loadavg is
    # contaminated by the bench's OWN burst and the guard would sleep
    # on an idle host. (Mid-run the loadavg is useless for exactly that
    # reason — the per-query guard below measures foreign CPU directly
    # from /proc instead.)
    settle_max = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE_SEC", "420"))
    settle_threshold = max(1.0, 0.0625 * (os.cpu_count() or 8))
    settled_wait = 0.0
    while (os.getloadavg()[0] > settle_threshold
           and settled_wait < settle_max):
        time.sleep(5)
        settled_wait += 5

    spark = get_spark("bench")

    # warmup: JVM + parquet footer caches
    REGISTRY["q1_pricing_summary"].builder(spark, sf_dir).count()
    # warmup: python/Arrow workers (one per core) — several queries run
    # Arrow-batched stages; steady-state numbers should not charge the
    # first of them the one-time worker fork + numpy import cost
    n_workers = spark.sparkContext.defaultParallelism

    def _noop(batches):
        import numpy  # noqa: F401  (pre-import in every worker)
        import pandas  # noqa: F401
        yield from batches

    (spark.range(0, n_workers * 4, 1, n_workers)
     .mapInPandas(_noop, "id long").count())

    # warmup: sketch expression classes — the first approx_top_k use
    # in a session pays ~2 s of one-time class-load/codegen (measured
    # 2.75 s -> 0.65 s steady at sf0.1, r07 VERDICT item 6); hoist it
    # like the Arrow-worker fork so no query's iteration 1 charges it
    from pyspark.sql import functions as F  # noqa: PLC0415
    (spark.range(0, 256)
     .select((F.col("id") % 7).cast("string").alias("t"),
             (F.col("id") % 2).alias("g"))
     .groupBy("g").agg(F.expr("approx_top_k_accumulate(t, 8)").alias("sk"))
     .agg(F.expr("approx_top_k_estimate(approx_top_k_combine(sk, 8), 3)"))
     .count())

    # min over BENCH_ITERS runs per query = steady-state engine time;
    # single-shot numbers on a shared host fold in unrelated load
    # (observed ±50% swings — BASELINE.md). r08 (VERDICT item 2, after
    # the 2nd load-contaminated driver artifact): default iters 2 -> 3,
    # plus a per-query foreign-CPU guard — if foreign processes burned
    # > 1 core on average during a query's runs, or the two best runs
    # disagree > 30%, the query is re-run (bounded) after the foreign
    # burst drains; per-query foreign-core estimates land in the JSON
    # so a hot run is self-evident instead of inferred.
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    max_extra = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA", "2"))

    # r10 (VERDICT r09 item 7 — 54/177 queries foreign-flagged in the
    # driver's r09 run despite the guard): a prior-round per-query
    # REFERENCE makes the noisy detector absolute as well as relative.
    # Uniform contamination defeats a spread test (all iterations agree
    # — all equally hot), so a query that is foreign-flagged AND >1.5x
    # its last recorded time earns the extra runs and a LONGER bounded
    # drain (60 s vs 30 s). The reference shapes RETRY POLICY only; the
    # recorded number is always min(observed runs). Documented ceiling:
    # if foreign load never drains for the whole bench window, the
    # guard can only FLAG (foreign_cores_by_query) — it cannot
    # manufacture a quiet host; cross-check flagged entries against a
    # prior artifact before reading them as regressions.
    def _round_run(p: Path) -> tuple[int, int]:
        """(round, run) parsed from a BENCH_LOCAL_r{N}[_sfX][_runM]
        filename — the ordering key. mtime (the pre-r11 key) reflects
        CHECKOUT time on a fresh clone, so an older round could be
        picked as the reference (r10 ADVICE)."""
        import re
        m = re.match(r"BENCH_LOCAL_r(\d+)(?:_sf[\d.]+)?(?:_run(\d+))?$",
                     p.stem)
        return ((int(m.group(1)), int(m.group(2) or 1)) if m else (-1, 0))

    ref: dict[str, float] = {}
    ref_name = None
    # the live session's core count: SPARK_GRAFT_MASTER overrides the
    # local[$SPARK_GRAFT_CPUS] master, so the env value can be wrong
    spark_cpus = n_workers
    try:
        arts = sorted(Path(__file__).parent.glob("BENCH_LOCAL_r*.json"),
                      key=_round_run)
        want_sf = str(float(sf) if sf.replace(".", "").isdigit() else sf)
        # newest matching-sf artifact, not newest overall: a trailing
        # exploratory sf0.001 record must not erase the reference.
        # r12: also skip artifacts recorded at a DIFFERENT Spark core
        # count (the driver's low-core scaling run would otherwise
        # become the 32-core run's reference and poison the ratio
        # verdict); artifacts predating the spark_cpus field stay
        # eligible.
        for p in reversed(arts):
            prior = json.loads(p.read_text())
            pc = prior.get("env", {}).get("spark_cpus")
            if pc is not None and int(pc) != spark_cpus:
                continue
            if str(prior.get("sf")) == want_sf:
                ref = prior.get("queries", {})
                ref_name = p.name
                break
    except (OSError, ValueError):
        ref = {}

    load_before = os.getloadavg()
    t_run0 = time.perf_counter()
    timings: dict[str, float] = {}
    all_iters: dict[str, list[float]] = {}
    foreign_by_query: dict[str, float] = {}
    resettle_sec = 0.0
    sample = _foreign_cores((0, 0, time.monotonic() - 1.0))[1]
    for name in sorted(REGISTRY):
        runs: list[float] = []
        foreign_seen = 0.0
        extras = max_extra
        want = iters
        while len(runs) < want:
            t0 = time.perf_counter()
            df = REGISTRY[name].builder(spark, sf_dir)
            df.count()
            runs.append(round(time.perf_counter() - t0, 3))
            foreign, sample = _foreign_cores(sample)
            foreign_seen = max(foreign_seen, foreign)
            best = sorted(runs)
            lagging = (name in ref and best[0] > 0.2
                       and best[0] > 1.5 * max(float(ref[name]), 0.05)
                       and foreign_seen >= 0.25)
            noisy = (foreign > 1.0
                     or (len(best) >= 2 and best[0] > 0.15
                         and best[1] / best[0] > 1.3)
                     or lagging)
            if len(runs) >= iters and noisy and extras > 0:
                extras -= 1
                want = len(runs) + 1
                # re-settle before the extra run: poll in 2 s windows
                # until foreign CPU drains (bounded; longer leash when
                # the query is also lagging its prior-round reference)
                waited = 0.0
                drain_max = 60.0 if lagging else 30.0
                while foreign > 1.0 and waited < drain_max:
                    time.sleep(2)
                    waited += 2
                    foreign, sample = _foreign_cores(sample)
                resettle_sec += waited
        timings[name] = min(runs)
        all_iters[name] = runs
        if foreign_seen >= 0.25:
            foreign_by_query[name] = round(foreign_seen, 2)

    # host-contention instrumentation (round-2 verdict: the driver's
    # run was uniformly ~4x the builder's same-code run — loadavg +
    # per-iteration spreads let a reader attribute deltas to load
    # instead of inferring it)
    try:
        uptime = float(Path("/proc/uptime").read_text().split()[0])
    except (OSError, ValueError):
        uptime = None
    # self-normalizing contamination read (r10 VERDICT item 5): the
    # per-query ratio vs the prior recorded artifact plus a one-line
    # verdict, so a hot driver run (65/179 flagged in r10) reads
    # correctly without judge-side reconstruction. The verdict is
    # advisory — recorded numbers are still min(observed).
    ratios = sorted(
        timings[n] / max(float(ref[n]), 1e-3)
        for n in timings if n in ref and float(ref[n]) >= 0.05
        and timings[n] >= 0.05)
    median_ratio = (round(ratios[len(ratios) // 2], 3)
                    if ratios else None)
    # r12 (VERDICT r11 item 8): the driver keeps only the 2000-char
    # stdout tail, so PERF's per-query comparator has never seen the
    # full 181-entry dict (n_common: 0 every round) — compute the
    # cross-round summary HERE, where both sides are in memory, and
    # ship it in the tail-safe line. Pure reporting: timing methodology
    # and the recorded numbers are untouched.
    import math
    geomean_ratio = (round(math.exp(sum(math.log(max(r, 1e-6))
                                        for r in ratios) / len(ratios)), 3)
                     if ratios else None)
    n_regressed_vs_ref = sum(1 for r in ratios if r > 1.1)
    n_improved_vs_ref = sum(1 for r in ratios if r < 0.9)
    flagged_frac = len(foreign_by_query) / max(len(timings), 1)
    contaminated = (flagged_frac > 0.15
                    or (median_ratio is not None and median_ratio > 1.25))
    out = {
        "metric": "sum_query_seconds_all_registered",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "host_verdict": (
            "contaminated" if contaminated else "clean"),
        "vs_prior": {
            "reference": ref_name,
            "median_per_query_ratio": median_ratio,
            "geomean_per_query_ratio": geomean_ratio,
            "n_compared": len(ratios),
            "n_regressed": n_regressed_vs_ref,
            "n_improved": n_improved_vs_ref,
            "foreign_flagged": len(foreign_by_query),
        },
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "env": {
            "iters": iters,
            "retry_reference": ref_name,
            "settle_waited_sec": settled_wait,
            "midrun_resettle_sec": round(resettle_sec, 1),
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "uptime_sec": uptime,
            "wall_sec": round(time.perf_counter() - t_run0, 1),
            "cpus": os.cpu_count(),
            # the SPARK core count (the session's defaultParallelism) —
            # os.cpu_count() above is the host and cannot distinguish
            # the driver's low-core scaling run from the main run
            "spark_cpus": spark_cpus,
        },
        # queries whose window saw >= 0.25 avg foreign cores (absent =
        # clean): the contamination audit trail the r07 adjudication
        # had to reconstruct from cross-run ratios
        "foreign_cores_by_query": foreign_by_query,
        "iterations": all_iters,
    }
    # driver-parsable artifact FIRST (VERDICT r03 item 3: the driver
    # stores only the final ~2000 chars of stdout and json-parses that
    # tail; a 137-query dict is ~4-10 KB, so the full line has never
    # parsed — r01/r02/r03 all landed "parsed": null). The complete
    # per-query record therefore lives in this committed file, named
    # for the round after the latest recorded CORRECTNESS file so
    # per-query times diff across rounds.
    repo = Path(__file__).resolve().parent
    rounds = [int(p.stem.split("_r")[-1]) for p in repo.glob("CORRECTNESS_r*.json")
              if p.stem.split("_r")[-1].isdigit()]
    rnd = (max(rounds) + 1) if rounds else 0
    # non-default scales get their own filename so an exploratory
    # sf0.01 pass can never clobber the round's official sf0.1 record
    tag = "" if out["sf"] == 0.1 else f"_sf{sf}"
    artifact = f"BENCH_LOCAL_r{rnd:02d}{tag}.json"
    # collision-safe (r08 verdict item 6): a second run at the same
    # round (e.g. a judge re-bench) must NOT clobber the driver run's
    # per-query artifact — append a run suffix until the name is free.
    run = 1
    while (repo / artifact).exists():
        run += 1
        artifact = f"BENCH_LOCAL_r{rnd:02d}{tag}_run{run}.json"
    (repo / artifact).write_text(json.dumps(out, indent=1))

    # stop the JVM BEFORE emitting the parse-critical lines so no
    # shutdown noise can land after them on stdout
    spark.stop()

    # full contract line (humans / logs / anyone capturing full stdout)
    print(json.dumps(out, separators=(",", ":")), flush=True)

    # LAST line: a complete JSON object guaranteed to fit inside the
    # driver's 2000-char tail window, so "parsed" is finally non-null.
    # Carries the headline metric + a pointer to the full per-query
    # artifact + the slowest queries (as many as fit the budget).
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "n_queries": len(timings),
        "queries_file": artifact,
        "loadavg_before": out["env"]["loadavg_before"],
        "wall_sec": out["env"]["wall_sec"],
        # self-contained cross-round read (r12): geomean/median of the
        # per-query ratios vs the newest committed same-sf artifact,
        # plus regressed/improved counts — so the driver's tail alone
        # answers "faster or slower than last round, and by how much"
        "vs_ref": {
            "reference": ref_name,
            "geomean_ratio": geomean_ratio,
            "median_ratio": median_ratio,
            "n_compared": len(ratios),
            "n_regressed": n_regressed_vs_ref,
            "n_improved": n_improved_vs_ref,
        },
        "slowest_queries": {},
    }
    budget = 1500  # hard margin under the 2000-char tail
    for name, sec in slowest:
        summary["slowest_queries"][name] = sec
        if len(json.dumps(summary, separators=(",", ":"))) > budget:
            del summary["slowest_queries"][name]
            break
    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) <= budget, "summary line exceeds tail-safe budget"
    print(line, flush=True)


if __name__ == "__main__":
    main()
