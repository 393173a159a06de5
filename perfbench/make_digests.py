"""Regenerate ``query_mix.json``: the query_mix list and, per query, the
digest its output must match.

    python3 perfbench/make_digests.py                 # same list, fresh digests
    python3 perfbench/make_digests.py name1 name2 ... # a new list

For each query the digest comes from the DuckDB oracle of the registry
when the oracle finishes within ``ORACLE_TIMEOUT_S`` seconds and agrees
with Spark's output (``"source": "duckdb"``); otherwise it is the Spark
output of the commit that ran this script (``"source": "spark"``, with
the reason). A query whose builder starts a Spark job is refused: the
list holds read-only queries only. Run it from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

import run

ORACLE_TIMEOUT_S = 60.0


def duckdb_rows(con, sql: str, timeout: float):
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        rel = con.sql(sql)
        return list(rel.columns), rel.fetchall()
    finally:
        timer.cancel()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    run.prepare_environment()

    import duckdb

    import checks
    import datagen
    from workloads import QUERY_MIX_FILE, load_query_mix

    from hackmd_data_pipeline_spark.api import Engine
    from hackmd_data_pipeline_spark.plans import REGISTRY
    from hackmd_data_pipeline_spark.session import get_spark

    names = args.names or sorted(load_query_mix()["queries"])
    tables = os.path.join(run.WORK, "tables")
    datagen.write_tables(tables)
    spark = get_spark()
    run.warm_up(spark)
    engine = Engine(spark, tables)
    tracker = spark.sparkContext.statusTracker()
    con = duckdb.connect()
    for t in datagen.TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")

    out = {}
    for i, name in enumerate(names):
        q = REGISTRY[name]
        group = f"digest-{i}"
        spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = engine.query(name)
        if tracker.getJobIdsForGroup(group):
            print(f"{name}: builder starts Spark jobs, not read-only",
                  file=sys.stderr)
            return 1
        df.write.format("noop").mode("overwrite").save()
        seconds = time.perf_counter() - t0
        want = checks.digest([tuple(r) for r in df.collect()], df.columns)
        entry = {"module": q.builder.__module__.rsplit(".", 1)[1],
                 "digest": want, "source": "spark"}
        if q.oracle is None:
            entry["why_spark"] = "no oracle"
        else:
            try:
                cols, rows = duckdb_rows(con, q.oracle, ORACLE_TIMEOUT_S)
                diffs = checks.compare(checks.digest(rows, cols), want)
                if diffs:
                    entry["why_spark"] = f"duckdb differs: {diffs[:2]}"
                else:
                    entry["source"] = "duckdb"
            except Exception as e:  # noqa: BLE001 - recorded, not fatal
                entry["why_spark"] = f"duckdb failed: {e!r}"[:200]
        out[name] = entry
        print(f"{name:40s} {seconds:6.2f}s {entry['source']}"
              f" {entry.get('why_spark', '')}", flush=True)
    spark.stop()
    with open(QUERY_MIX_FILE, "w") as fh:
        json.dump({"tables": datagen.DATA_VERSION, "queries": out}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
