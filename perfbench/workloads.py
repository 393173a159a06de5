"""The two workloads.

Each workload is a closed loop of one client on one SparkSession: it
starts its next operation only when the previous one has returned, and
repeats its unit of work while the measured time is below ``seconds``
(a started unit always finishes, so every run measures at least one).

* ``corpus_build`` — the unit is a full 9-stage
  ``etl.CorpusPipeline.run()`` on a fresh root; the offline ``fetch``
  serves seeded categories with cross-listed ids and exact copies.
* ``serve_mix`` — set-up bootstraps both stores from the first drop
  (in-batch LSH into the dedup store, ``build_ivf_index`` behind the
  pointer). A read pass is every registry query of ``query_mix.json``
  (``Engine.query``, materialized by ``collect()`` and checked against
  its digest) and the store lookups (``resolve_from_store`` and
  ``Engine.knn_join``, checked), in seeded order. The run starts with a
  read pass over the bootstrapped stores; its unit is then a schedule:
  one more drop of documents and vectors committed incrementally (its
  documents against the stored signatures, its vectors upserted and
  folded into a fresh index generation by a compaction), then another
  read pass. Reads are the operations timed for latency; the
  incremental drop is the cycle.

Every workload returns an ``Outcome``; ``run.py`` turns it into the
printed metrics.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import datagen
from harness import (Tracer, interval_union, ledger_gaps, median,
                     tree_cpu_seconds)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
QUERY_MIX_FILE = os.path.join(HERE, "query_mix.json")

# serve_mix: compaction is due once more than this many upsert deltas
# are outstanding, so every incremental drop folds its delta into a
# fresh index generation behind the pointer
ANN_MAX_DELTAS = 0
ANN_NLIST = 4
RESOLVES = 1
KNN_LOOKUPS = 1
KNN_QUERIES = 4
QUERY_ID_BASE = 10**12
MAX_DROPS = 40

# corpus_build outputs hashed into the run's snapshot; the lineage and
# date columns of the first two are what the normalization is for
SNAPSHOT_OUTPUTS = ("canonical", "history", "annotated", "packed")


@dataclass
class Outcome:
    ops: list[float] = field(default_factory=list)      # op latencies
    cycles: list[float] = field(default_factory=list)   # cycle latencies
    cycle_cpu: list[float] = field(default_factory=list)  # CPU s per cycle
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    input_rows: int = 0
    input_bytes: int = 0
    stored_bytes: int = 0
    setup_s: float = 0.0    # the workload's own set-up, outside the region


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str           # this run's scratch root inside the checkout
    snapshots: str      # normalized output digests kept across runs
    region_jobs: int = 0
    untagged_jobs: int = 0

    def region_start(self) -> None:
        self.tracer.mark_region()

    def region_end(self) -> None:
        self.region_jobs = self.tracer.region_jobs()
        self.untagged_jobs = self.tracer.untagged_jobs()


def _dir_stats(paths: list[str]) -> tuple[int, int]:
    size = files = 0
    for p in paths:
        for base, _, names in os.walk(p):
            for n in names:
                size += os.path.getsize(os.path.join(base, n))
                files += 1
    return size, files


def _group_totals(groups, spans) -> dict[str, float]:
    tot = {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_bytes": 0}
    for s in spans:
        g = groups.get(s.group)
        if g is None:
            continue
        tot["jobs"] += g.jobs
        tot["tasks"] += g.tasks
        tot["cpu_s"] += g.cpu_s
        tot["shuffle_bytes"] += g.shuffle_bytes
    return tot


# ------------------------------------------------------------ corpus_build

def corpus_build(ctx: Context) -> Outcome:
    from hackmd_data_pipeline_spark.etl import CorpusPipeline

    spark, tr = ctx.spark, ctx.tracer
    run_date = dt.datetime.now(dt.timezone.utc).date()
    cats, planted = datagen.corpus_categories(ctx.seed, run_date)
    out = Outcome(input_rows=planted["records"],
                  input_bytes=planted["input_bytes"])
    fetch_times: list[float] = []
    batch_times: list[float] = []

    def fetch(cat: str, max_results: int):
        fetch_times.append(time.perf_counter())
        return cats[cat]

    def hook(point: str, stage: str) -> None:
        if point == "claimed":
            tr.begin(f"etl.{stage}", group=True)
        elif point == "done":
            tr.end()
        elif point == "batch":
            batch_times.append(time.perf_counter())

    ctx.region_start()
    start = time.perf_counter()
    snapshots = []
    runs: list[tuple[float, float]] = []   # pipe.run() windows, time.time()
    while True:
        root = os.path.join(ctx.work, f"pipeline-{len(out.ops)}")
        shutil.rmtree(root, ignore_errors=True)
        fetch_times.clear()
        batch_times.clear()
        out.attempted += 1
        c0 = tree_cpu_seconds()
        t0 = time.perf_counter()
        try:
            with tr.span("etl.pipeline", group=True):
                pipe = CorpusPipeline(
                    spark, root, fetch, datagen.CATEGORIES,
                    fault_hook=hook if tr.enabled else None)
                r0 = time.time()
                pipe.run()
                runs.append((r0, time.time()))
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            traceback.print_exc()
            out.failed += 1
            out.problems.append(f"pipeline failed: {e!r}"[:500])
            break
        out.ops.append(time.perf_counter() - t0)
        out.cycle_cpu.append(tree_cpu_seconds() - c0)
        t_check = time.perf_counter()
        with tr.span("bench.check", group=True):
            snap, problems = _check_pipeline(spark, pipe, planted, run_date)
        out.info["check_s"] = time.perf_counter() - t_check
        out.problems += problems
        snapshots.append(snap)
        if time.perf_counter() - start + median(out.ops) > ctx.seconds:
            break
    ctx.region_end()
    out.cycles = list(out.ops)
    problems, out.info["snapshot"] = _same_snapshot(ctx, snapshots)
    out.problems += problems
    out.stored_bytes, files = _dir_stats([root])
    if tr.enabled:
        groups = tr.readback()
        n = max(1, len(out.ops))
        etl_spans = []
        for stage in CorpusPipeline.STAGES:
            spans = tr.named(f"etl.{stage}")
            etl_spans += spans
            tot = _group_totals(groups, spans)
            out.layers[f"etl.{stage}_s"] = sum(s.seconds for s in spans) / n
            out.layers[f"etl.{stage}_jobs"] = tot["jobs"] / n
            out.layers[f"etl.{stage}_cpu_s"] = tot["cpu_s"] / n
        pipeline = tr.named("etl.pipeline")
        # the ledger flips are the gaps around the stages inside run():
        # before the first claim, done -> next claim, after the last done
        ledger = sum(ledger_gaps([(s.start, s.end) for s in etl_spans
                                  if r0 <= s.start and s.end <= r1], r0, r1)
                     for r0, r1 in runs)
        staged = sum(s.seconds for s in etl_spans)
        out.layers["etl.ledger_s"] = ledger / n
        out.layers["etl.coverage"] = ((staged + ledger)
                                      / sum(s.seconds for s in pipeline))
        out.layers["etl.shuffle_mb"] = _group_totals(
            groups, etl_spans + pipeline)["shuffle_bytes"] / n / 2**20
        out.layers.update({
            "collector.category_s": median(list(np.diff(fetch_times))),
            "ingest.batch_s": median(list(np.diff(batch_times))),
            "ingest.micro_batches": len(batch_times),
            "fs.store_mb": out.stored_bytes / 2**20,
            "fs.store_files": files,
        })
    return out


def _tree_hash(paths: list[str], extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def snapshot_keys() -> tuple[str, str]:
    """``(bench, program)``: a hash of what makes the inputs and the
    normalization (the data version and the benchmark's own input,
    check and workload code), and a hash of the package's sources."""
    bench = _tree_hash([os.path.join(HERE, f) for f in
                        ("datagen.py", "checks.py", "workloads.py")],
                       datagen.DATA_VERSION)
    program = _tree_hash(glob.glob(os.path.join(
        ROOT, "hackmd_data_pipeline_spark", "**", "*.py"), recursive=True))
    return bench, program


def _same_snapshot(ctx: Context, snapshots: list[dict]
                   ) -> tuple[list[str], dict]:
    """Every pipeline run of one seed on one program must write the
    same normalized outputs: within this run, and against a snapshot
    that an earlier run of the same seed, benchmark and program left in
    the checkout. Snapshots of other programs are only compared for the
    record (a change to the program may change its outputs); snapshots
    of another benchmark version are never read. Returns the problems
    and what was compared."""
    if not snapshots:
        return [], {}
    if any(s != snapshots[0] for s in snapshots):
        return ["pipeline outputs differ between runs of one process"], {}
    bench, program = snapshot_keys()
    prefix = os.path.join(ctx.snapshots, f"corpus_build-{ctx.seed}-{bench}-")
    info = {"bench": bench, "program": program, "same_program": None,
            "other_programs": {}}
    problems = []
    for path in sorted(glob.glob(prefix + "*.json")):
        with open(path) as fh:
            earlier = json.load(fh)
        diff = sorted(k for k in earlier if earlier[k] != snapshots[0].get(k))
        other = path[len(prefix):-len(".json")]
        if other == program:
            info["same_program"] = not diff
            if diff:
                problems.append(f"outputs differ from an earlier run of seed "
                                f"{ctx.seed} on this program: {diff}")
        else:
            info["other_programs"][other] = diff
    if info["same_program"] is None:
        os.makedirs(ctx.snapshots, exist_ok=True)
        with open(prefix + program + ".json", "w") as fh:
            json.dump(snapshots[0], fh, indent=1, sort_keys=True)
    return problems, info


def _check_pipeline(spark, pipe, planted: dict, run_date: dt.date
                    ) -> tuple[dict, list[str]]:
    """Count invariants of the e2e test, the canonical rows against the
    fed records, the planted duplicates, and normalized digests of
    ``SNAPSHOT_OUTPUTS``."""
    from pyspark.sql import functions as F

    o, root = pipe.outputs(), pipe.root
    problems = []
    ledger = {r.stage: r.status for r in pipe.ledger.read().collect()}
    if set(ledger) != set(pipe.STAGES) or set(ledger.values()) != {"finished"}:
        problems.append(f"ledger not all finished: {ledger}")
    canon_ids = sorted(r.entry_id for r in
                       spark.read.parquet(o["canonical"]).select("entry_id").collect())
    if canon_ids != planted["distinct_ids"]:
        problems.append(f"canonical ids ({len(canon_ids)}) != distinct fed ids "
                        f"({len(planted['distinct_ids'])})")
    # every canonical row carries its fed record's title, text and dates
    fed = planted["records_by_id"]
    for r in spark.read.parquet(o["canonical"]).select(
            "entry_id", "title", "summary", F.date_format(
                "published", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("published")
            ).collect():
        want = fed[r.entry_id]
        if (r.title, r.summary, r.published) != (
                want["title"], want["summary"], want["published"]):
            problems.append(f"canonical {r.entry_id} does not match its record")
            break
    n_hist = spark.read.parquet(o["history"]).count()
    if n_hist != len(canon_ids):
        problems.append(f"history rows {n_hist} != canonical {len(canon_ids)}")
    docs = spark.read.parquet(o["documents"])
    kept = {r.entry_id for r in spark.read.parquet(o["decisions"])
            .filter("kept").join(docs, "doc_id").select("entry_id").collect()}
    resolved = {r.entry_id for r in spark.read.parquet(o["resolved"])
                .select("entry_id").collect()}
    for orig, copy in planted["copies"]:
        if {orig, copy} <= kept:
            problems.append(f"exact copy {copy} of {orig} survived curate")
    snap = {}
    for name in SNAPSHOT_OUTPUTS:
        snap[name] = checks.rows_hash(
            [checks.norm_row(r.asDict(), root, run_date)
             for r in spark.read.parquet(o[name]).collect()])
    n_docs = docs.count()
    if n_docs != len(canon_ids):
        problems.append(f"documents {n_docs} != canonical {len(canon_ids)}")
    if not 0 < len(resolved) <= len(kept):
        problems.append(f"resolved {len(resolved)} not within (0, kept={len(kept)}]")
    return snap, problems


# --------------------------------------------------------------- serve_mix

def load_query_mix() -> dict:
    with open(QUERY_MIX_FILE) as fh:
        return json.load(fh)


class _Store:
    """The two persisted stores of one run and the drops fed to them."""

    def __init__(self, ctx: Context, engine):
        self.ctx, self.spark, self.engine = ctx, ctx.spark, engine
        w = ctx.work
        self.docs_in, self.vecs_in = f"{w}/in/docs", f"{w}/in/vecs"
        self.store, self.corpus = f"{w}/dedup_store", f"{w}/corpus"
        self.ckpt, self.ptr = f"{w}/checkpoints/neardup", f"{w}/ann/ptr"
        self.index0 = f"{w}/ann/index"
        self.store_dirs = [self.store, self.corpus, f"{w}/ann"]
        self.drops = datagen.store_drops(ctx.seed, MAX_DROPS)
        self.n = 0                      # drops committed
        self.input_bytes = 0
        self.input_rows = 0
        self.compactions = 0
        for d in (self.docs_in, self.vecs_in):
            os.makedirs(d, exist_ok=True)

    def write_drop(self) -> int:
        k = self.n
        drop = self.drops[k]
        for path, table in ((f"{self.docs_in}/drop-{k:03d}.parquet",
                             datagen.docs_table(drop["doc_rows"])),
                            (f"{self.vecs_in}/drop-{k:03d}.parquet",
                             drop["vectors"])):
            pq.write_table(table, path)
            self.input_bytes += os.path.getsize(path)
            self.input_rows += table.num_rows
        return k

    def commit(self, k: int, tr: Tracer) -> None:
        """Drop 0 bootstraps both stores; every later drop is committed
        incrementally and ends in an index compaction."""
        from hackmd_data_pipeline_spark.operators.similarity import (
            build_ivf_index,
            upsert_ivf_index,
        )
        from hackmd_data_pipeline_spark.sources.fs import (
            pointer_current,
            pointer_publish,
        )
        from hackmd_data_pipeline_spark.streaming.annindex import (
            maintain_ivf_index,
        )
        from hackmd_data_pipeline_spark.streaming.neardup import (
            run_cluster_maintained_ingest,
        )

        with tr.span("neardup.bootstrap" if k == 0 else "neardup.drop",
                     group=True):
            got = run_cluster_maintained_ingest(
                self.spark, self.docs_in, self.corpus, self.ckpt, self.store)
        if got["ingested"] != len(self.drops[k]["doc_rows"]):
            raise RuntimeError(f"drop {k}: ingested {got['ingested']} docs, "
                               f"expected {len(self.drops[k]['doc_rows'])}")
        vecs = self.spark.read.parquet(f"{self.vecs_in}/drop-{k:03d}.parquet")
        if k == 0:
            # bootstrap: the first drop trains the quantizer and becomes
            # the base generation behind the pointer
            with tr.span("annindex.build", group=True):
                build_ivf_index(vecs, self.index0, nlist=ANN_NLIST)
                pointer_publish(self.spark, self.ptr, self.index0)
        else:
            with tr.span("annindex.drop", group=True):
                upsert_ivf_index(vecs, pointer_current(self.spark, self.ptr),
                                 epoch_id=k, out_partitions=4)
            with tr.span("annindex.maintain", group=True):
                m = maintain_ivf_index(self.spark, self.ptr,
                                       max_deltas=ANN_MAX_DELTAS)
            self.compactions += bool(m["compacted"])
        self.n += 1

    # lookups return a problem string, or None when the answer is right

    def resolve(self, tr: Tracer) -> str | None:
        from hackmd_data_pipeline_spark.operators.dedup_store import (
            resolve_from_store,
        )

        with tr.span("dedup_store.resolve", group=True):
            rows = resolve_from_store(self.spark, self.store).collect()
        cluster = {r.doc_id: r.cluster_id for r in rows}
        for d in self.drops[:self.n]:
            for orig, copy in d["copies"]:
                if copy not in cluster or cluster.get(orig) != cluster[copy]:
                    return f"copy {copy} not clustered with {orig}"
        return None

    def knn(self, tr: Tracer, rng: np.random.Generator) -> str | None:
        from hackmd_data_pipeline_spark.session import arrow_local_df
        from hackmd_data_pipeline_spark.sources.fs import pointer_current

        pool = [d["vectors"] for d in self.drops[:self.n]]
        k = int(rng.integers(0, len(pool)))
        rows = rng.choice(pool[k].num_rows, KNN_QUERIES, replace=False)
        ids = [int(pool[k]["vec_id"][int(i)].as_py()) for i in rows]
        vecs = [pool[k]["embedding"][int(i)].as_py() for i in rows]
        # the kNN join never returns a query's own id, so each query
        # carries a fresh id and must find its stored vector first
        qids = [QUERY_ID_BASE + i for i in ids]
        with tr.span("similarity.search", group=True):
            queries = arrow_local_df(
                self.spark, {"query_id": qids, "embedding": vecs},
                "query_id bigint, embedding array<float>")
            hits = self.engine.knn_join(
                pointer_current(self.spark, self.ptr), queries, k=3).collect()
        top = {h.query_id: (h.vec_id, h.cosine) for h in hits if h.rank == 1}
        for q, want in zip(qids, ids):
            if q not in top or top[q][0] != want or top[q][1] < 0.999:
                return f"kNN top-1 of vector {want} is {top.get(q)}"
        return None


def _read_pass(reads: list[tuple], rng: np.random.Generator) -> list[tuple]:
    return [reads[i] for i in rng.permutation(len(reads))]


def serve_mix(ctx: Context, engine) -> Outcome:
    spark, tr = ctx.spark, ctx.tracer
    mix = load_query_mix()["queries"]
    st = _Store(ctx, engine)
    out = Outcome()
    reads = ([("query", n) for n in sorted(mix)]
             + [("resolve", None)] * RESOLVES + [("knn", None)] * KNN_LOOKUPS)
    rng = np.random.default_rng(ctx.seed)
    builder: dict[str, float] = {}
    action: dict[str, float] = {}
    t0 = time.perf_counter()
    st.commit(st.write_drop(), tr)
    out.setup_s = time.perf_counter() - t0
    ctx.region_start()
    start = time.perf_counter()
    schedules = 0
    while st.n < MAX_DROPS:
        t_sched = time.perf_counter()
        # a first read pass serves the bootstrapped store (and lets the
        # JVM finish compiling the bootstrap's code before the timed
        # drop); every drop is followed by another pass
        schedule = ((_read_pass(reads, rng) if schedules == 0 else [])
                    + [("drop", None)] + _read_pass(reads, rng))
        for kind, name in schedule:
            out.attempted += 1
            if kind == "drop":      # timed from the drop being written
                k = st.write_drop()
                c0 = tree_cpu_seconds()
            t0 = time.perf_counter()
            try:
                if kind == "drop":
                    st.commit(k, tr)
                    problem = None
                elif kind == "query":
                    with tr.span(f"query.{name}", group=True,
                                 module=mix[name]["module"]):
                        df = engine.query(name)
                        t1 = time.perf_counter()
                        rows = df.collect()
                    builder[name] = builder.get(name, 0.0) + t1 - t0
                    action[name] = (action.get(name, 0.0)
                                    + time.perf_counter() - t1)
                    diffs = checks.compare(
                        checks.digest([tuple(r) for r in rows], df.columns),
                        mix[name]["digest"])
                    problem = f"{name}: {diffs[:3]}" if diffs else None
                elif kind == "resolve":
                    problem = st.resolve(tr)
                else:
                    problem = st.knn(tr, rng)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                traceback.print_exc()
                problem = f"{kind} {name or ''} raised {e!r}"[:500]
            took = time.perf_counter() - t0
            if problem:
                out.failed += 1
                out.problems.append(problem)
            elif kind == "drop":
                out.cycles.append(took)
                out.cycle_cpu.append(tree_cpu_seconds() - c0)
            else:
                out.ops.append(took)
        schedules += 1
        elapsed = time.perf_counter() - start
        if elapsed + (time.perf_counter() - t_sched) > ctx.seconds:
            break
    ctx.region_end()
    out.input_rows, out.input_bytes = st.input_rows, st.input_bytes
    out.stored_bytes, files = _dir_stats(st.store_dirs)
    passes = schedules + 1
    out.info.update(schedules=schedules, drops=st.n, bootstrap_s=out.setup_s,
                    compactions=st.compactions, queries=len(mix),
                    read_passes=passes, resolves=RESOLVES * passes,
                    knn=KNN_LOOKUPS * passes)

    t_check = time.perf_counter()
    with tr.span("bench.check", group=True):
        out.problems += _check_store(spark, st)
    out.info["check_s"] = time.perf_counter() - t_check

    if tr.enabled:
        groups = tr.readback()
        qspans = [s for s in tr.spans if s.name.startswith("query.")]
        for mod in sorted({q["module"] for q in mix.values()}):
            mine = [n for n in mix if mix[n]["module"] == mod]
            tot = _group_totals(groups, [s for s in qspans
                                         if s.attrs["module"] == mod])
            per = {"builder_s": sum(builder.get(n, 0.0) for n in mine),
                   "action_s": sum(action.get(n, 0.0) for n in mine),
                   "jobs": tot["jobs"], "tasks": tot["tasks"],
                   "cpu_s": tot["cpu_s"]}
            for k, v in per.items():
                out.layers[f"plans.{mod}.{k}"] = v / passes
        gap = 0.0
        for s in qspans:
            g = groups.get(s.group)
            gap += s.seconds - interval_union(
                g.stage_windows if g else [], s.start, s.end)
        out.layers["query.driver_gap_s"] = gap / passes

        def med(name):
            return median([s.seconds for s in tr.named(name)])

        out.layers.update({
            "neardup.bootstrap_s": med("neardup.bootstrap"),
            "neardup.drop_s": med("neardup.drop"),
            "annindex.build_s": med("annindex.build"),
            "annindex.drop_s": med("annindex.drop"),
            "annindex.maintain_s": med("annindex.maintain"),
            "annindex.compactions": st.compactions,
            "dedup_store.resolve_s": med("dedup_store.resolve"),
            "similarity.search_s": med("similarity.search"),
            "fs.store_mb": out.stored_bytes / 2**20,
            "fs.store_files": files,
        })
    return out


def _check_store(spark, st: _Store) -> list[str]:
    """End-of-run store state: every committed doc is in the corpus and
    every committed vector is searchable. (Planted copies are checked
    by every timed resolve lookup.)"""
    from hackmd_data_pipeline_spark.operators.similarity import ivf_index_data
    from hackmd_data_pipeline_spark.sources.fs import pointer_current

    problems = []
    want_docs = sorted(r[0] for d in st.drops[:st.n] for r in d["doc_rows"])
    got_docs = sorted(r.doc_id for r in
                      spark.read.parquet(st.corpus).select("doc_id").collect())
    if got_docs != want_docs:
        problems.append(f"corpus holds {len(got_docs)} docs, expected {len(want_docs)}")
    want_vecs = sorted(v for d in st.drops[:st.n]
                       for v in d["vectors"]["vec_id"].to_pylist())
    got_vecs = sorted(r.vec_id for r in ivf_index_data(
        spark, pointer_current(spark, st.ptr)).select("vec_id").collect())
    if got_vecs != want_vecs:
        problems.append(f"index holds {len(got_vecs)} vectors, expected {len(want_vecs)}")
    return problems
