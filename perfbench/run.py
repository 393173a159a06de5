"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, sets up one SparkSession through the package's own factory on
``local[<nproc>]`` (session start, which launches the JVM, plus a
warm-up of JVM code paths, Python workers and sketch classes, plus the
workload's own set-up, such as the store bootstrap of ``serve_mix``;
reported as ``setup_s``), then runs one workload (see ``workloads.py``)
as a closed loop of one client for about ``--seconds`` seconds and
checks its outputs.

With ``--trace 0`` the last line of standard output carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics, measured in a run that also sets a Spark job group around
every traced call and reads them back from the status store at the
end. The line before it records the environment and the sample counts.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import importlib.util
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("corpus_build", "serve_mix")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "cycle_s": "s",
              "store_bytes_per_input_byte": "ratio"}
PLANS_MODULES = ("control", "curation", "extensions", "membership",
                 "partsupp", "relational", "similarity", "subqueries",
                 "textops")


def per_layer_units() -> dict[str, str]:
    from hackmd_data_pipeline_spark.etl import CorpusPipeline

    units = {"session.start_s": "s", "session.warmup_s": "s",
             "store.bootstrap_s": "s", "process.peak_rss_mb": "MB",
             "process.cycle_cpu_s": "s", "spark.untagged_jobs": "count"}
    for stage in CorpusPipeline.STAGES:
        units.update({f"etl.{stage}_s": "s", f"etl.{stage}_jobs": "count",
                      f"etl.{stage}_cpu_s": "s"})
    units.update({"etl.ledger_s": "s", "etl.coverage": "ratio",
                  "etl.shuffle_mb": "MB",
                  "collector.category_s": "s", "ingest.batch_s": "s",
                  "ingest.micro_batches": "count"})
    for mod in PLANS_MODULES:
        units.update({f"plans.{mod}.builder_s": "s",
                      f"plans.{mod}.action_s": "s",
                      f"plans.{mod}.jobs": "count",
                      f"plans.{mod}.tasks": "count",
                      f"plans.{mod}.cpu_s": "s"})
    units.update({"query.driver_gap_s": "s", "neardup.bootstrap_s": "s",
                  "neardup.drop_s": "s", "annindex.build_s": "s",
                  "annindex.drop_s": "s",
                  "annindex.maintain_s": "s", "annindex.compactions": "count",
                  "dedup_store.resolve_s": "s", "similarity.search_s": "s",
                  "fs.store_mb": "MB", "fs.store_files": "count",
                  "trace.op_p50_s": "s",
                  "trace.cycle_s": "s"})
    return units


def prepare_environment() -> int:
    """Environment for the session and its Python workers; must run
    before pyspark launches the JVM. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # workers start in a Spark scratch dir, not in the checkout: without
    # the package on PYTHONPATH every UDF-bearing query dies there
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # keep every job and stage in the status store for the readback; no
    # JVM perf-data file, which would land in /tmp whatever the tmpdir
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def warm_up(spark) -> None:
    """JVM code paths, one Python worker per core, the sketch classes."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 50_000, numPartitions=n)
    df.groupBy((F.col("id") % 97).alias("k")).agg(F.sum("id")).collect()

    @F.pandas_udf("long")
    def inc(s):
        return s + 1

    df.select(inc("id").alias("x")).agg(F.max("x")).collect()
    df.select(F.expr("hll_sketch_estimate(hll_sketch_agg(id))"),
              F.expr("theta_sketch_estimate(theta_sketch_agg(id))")).collect()


def set_up() -> tuple[object, dict]:
    from hackmd_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, {"start_s": t1 - t0, "warmup_s": time.perf_counter() - t1}


def stop_session(spark) -> None:
    """Stop the session, then the JVM: close the gateway and the JVM's
    stdin (it exits on EOF) and wait for it to end."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            with contextlib.suppress(Py4JError):
                gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("hackmd_data_pipeline_spark") is None:
        print(f"package hackmd_data_pipeline_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    cpus = prepare_environment()

    from harness import become_subreaper, stop_descendants

    become_subreaper()
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args, cpus)
    finally:
        # the JVM, its Python workers and anything they started
        stop_descendants()


def run(args: argparse.Namespace, cpus: int) -> int:
    import pyspark

    import datagen
    from harness import RssSampler, Tracer, median, tail_percentile
    from workloads import Context, corpus_build, serve_mix

    tables = os.path.join(WORK, "tables")
    table_stats = datagen.write_tables(tables)
    work = os.path.join(WORK, "runs", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    with RssSampler() as rss:
        spark, setup = set_up()
        try:
            tracer = Tracer(spark, bool(args.trace))
            ctx = Context(spark, tracer, args.seed, args.seconds, work,
                          os.path.join(WORK, "snapshots"))
            if args.workload == "corpus_build":
                out = corpus_build(ctx)
            else:
                from hackmd_data_pipeline_spark.api import Engine
                out = serve_mix(ctx, Engine(spark, tables))
            default_parallelism = spark.sparkContext.defaultParallelism
        finally:
            stop_session(spark)

    pct, tail = tail_percentile(out.ops)
    e2e = {"setup_s": setup["start_s"] + setup["warmup_s"] + out.setup_s,
           "op_p50_s": median(out.ops), "cycle_s": median(out.cycles),
           "store_bytes_per_input_byte": out.stored_bytes / out.input_bytes}
    correct = not out.problems and out.failed == 0 and bool(out.ops)
    if args.trace:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update(out.layers)
        values.update({
            "session.start_s": setup["start_s"],
            "session.warmup_s": setup["warmup_s"],
            "store.bootstrap_s": out.setup_s,
            "process.peak_rss_mb": rss.peak_mb,
            "process.cycle_cpu_s": median(out.cycle_cpu),
            "spark.untagged_jobs": ctx.untagged_jobs,
            "trace.op_p50_s": e2e["op_p50_s"],
            "trace.cycle_s": e2e["cycle_s"]})
        unknown = set(values) - set(units)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    else:
        units, values = END_TO_END, e2e

    record = {
        "env": {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "default_parallelism": default_parallelism, "nproc": cpus,
                "pyspark": pyspark.__version__,
                "input_rows": out.input_rows, "input_bytes": out.input_bytes,
                "table_rows": sum(r for r, _ in table_stats.values()),
                "table_bytes": sum(b for _, b in table_stats.values())},
        "samples": {"ops": len(out.ops), "cycles": len(out.cycles),
                    "op_tail_percentile": pct, "op_tail_s": tail,
                    "spark_jobs": ctx.region_jobs},
        "end_to_end": e2e, "peak_rss_mb": rss.peak_mb,
        "cycle_cpu_s": out.cycle_cpu, "info": out.info, "setup": setup,
        "problems": out.problems[:20],
        "spans": [dataclasses.asdict(s) for s in tracer.spans]}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump(record | {"metrics": values}, fh, indent=1, default=str)
    print(json.dumps({k: record[k] for k in ("env", "samples", "problems")},
                     default=str))
    print(json.dumps({
        "correct": correct, "attempted": out.attempted, "failed": out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
