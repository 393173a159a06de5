"""Collector orchestration (SURVEY.md §3.1, O-1/O-22/O-26/O-30/O-34..O-36).

The reference's collector is a self-invoking Lambda that scans a
rate-limited source per category, dedups against a 6-month id history,
batches records to gzip-JSONL on S3, and tracks per-category progress
and run stats in Postgres (reference src/extract/arxiv_collector.py:
211-330). Spark-first restructuring:

  * the SOURCE stays a driver-side callable (the reference keeps it on
    one client by design for IP-consistency, README.md:61) returning
    plain dicts — swap in a real HTTP client in production;
  * everything after the fetch is DataFrame work: explicit-schema
    createDataFrame, within-batch dropDuplicates (O-23), left-anti
    join against the bounded id history (O-22 — the lookback filter
    keeps the build side broadcastable, the reference's own
    memory-bound trick), partitioned gzip-JSONL write (O-3 layout)
    in one job: its count is observed on the write, and
    ``maxRecordsPerFile`` keeps each file to ``batch_size`` records;
  * category progress / run stats are ControlTable generation flips
    (streaming/control.py) instead of row UPDATEs (O-26/O-30),
    computed by the driver on Arrow tables: no Spark job;
  * the self-invoking loop (O-35) is a drain-until-done driver loop:
    each call processes ``categories_per_run`` pending categories and
    reports whether work remains.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .schemas import CATEGORY_PROGRESS_SCHEMA, CATEGORY_RUN_STATS_SCHEMA, RAW_RECORD_SCHEMA
from .session import empty_local_df, observed
from .sources.fs import fs_exists
from .streaming.control import ControlTable

# records per output file — the reference's batch_size=100
# (config/config.yaml:16) scaled for Parquet-era file sizes
DEFAULT_BATCH_SIZE = 100

FetchFn = Callable[[str, int], Iterable[dict]]


class Collector:
    """Drain-style collector over a pluggable rate-limited source."""

    def __init__(self, spark: SparkSession, root: str, fetch: FetchFn,
                 categories: list[str], categories_per_run: int = 3,
                 max_results: int = 1000, batch_size: int = DEFAULT_BATCH_SIZE,
                 lookback_months: int = 6):
        self.spark = spark
        self.root = root
        self.fetch = fetch
        self.categories = categories
        self.categories_per_run = categories_per_run
        self.max_results = max_results
        self.batch_size = batch_size
        self.lookback_months = lookback_months
        self.progress = ControlTable(spark, f"{root}/category_progress",
                                     CATEGORY_PROGRESS_SCHEMA)
        self.run_stats = ControlTable(spark, f"{root}/category_run_stats",
                                      CATEGORY_RUN_STATS_SCHEMA)

    # -------------------------------------------------------- work selection

    def register_new_categories(self) -> None:
        """O-23c: YAML category list minus categories already tracked
        (reference arxiv_collector.py:217-222), duplicates kept as a
        left-anti join keeps them."""
        cur = self.progress.table()
        tracked = set(cur["category_name"].to_pylist())
        now = datetime.now(timezone.utc)
        new = [{"category_name": c, "status": "", "updated_at": now}
               for c in self.categories if c not in tracked]
        if new:
            self.progress.write(pa.concat_tables(
                [cur, pa.Table.from_pylist(new, schema=cur.schema)]))

    def _pending(self) -> list[str]:
        """Not-Finished categories by name; NULL is not pending (SQL)."""
        rows = self.progress.table().to_pylist()
        return sorted(r["category_name"] for r in rows
                      if r["status"] is not None and r["status"] != "Finished")

    def pending_categories(self) -> list[str]:
        """O-17 + O-34: not-Finished categories, first k (reference
        arxiv_collector.py:63-72,87-91)."""
        return self._pending()[:self.categories_per_run]

    # ------------------------------------------------------------- dedup side

    def known_ids(self) -> DataFrame:
        """O-19 + O-22 build side: ids ingested within the lookback
        window (reference load_existing_ids, arxiv_collector.py:123-134).
        The time bound keeps this broadcastable at scale."""
        if not fs_exists(self.spark, f"{self.root}/raw"):
            return empty_local_df(self.spark, "entry_id string")
        raw = self.spark.read.schema(RAW_RECORD_SCHEMA).json(f"{self.root}/raw")
        cutoff = (F.current_timestamp()
                  - F.expr(f"INTERVAL {self.lookback_months} MONTHS"))
        return (
            raw.select("entry_id", F.to_timestamp("published").alias("_pub"))
            .filter(F.col("_pub").isNull() | (F.col("_pub") >= cutoff))
            .select("entry_id").distinct()
        )

    # -------------------------------------------------------------- one run

    def run_once(self) -> dict:
        """Process up to categories_per_run categories; returns
        {'processed': [...], 'pending_after': n} — the caller loops
        while pending_after > 0 (O-35, reference arxiv_collector.py:
        196-208,325-330)."""
        self.register_new_categories()
        todo = self.pending_categories()
        stats_rows = []
        for cat in todo:
            t0 = time.monotonic()
            records = list(self.fetch(cat, self.max_results))
            n_written = 0
            if records:
                # re-resolve per category: the reference's id set grows
                # as the run proceeds (arxiv_collector.py:260-264), and
                # the file listing behind a DataFrame is fixed at
                # creation
                known = F.broadcast(self.known_ids())
                # Arrow local relation: a python-parallelized list
                # would be evaluated through Python workers
                incoming = self.spark.createDataFrame(
                    pa.Table.from_pylist(
                        records, schema=to_arrow_schema(RAW_RECORD_SCHEMA)),
                    RAW_RECORD_SCHEMA)
                fresh, obs = observed(
                    incoming.dropDuplicates(["entry_id"])       # O-23
                    .join(known, "entry_id", "left_anti"))      # O-22
                # the records are already in the driver: one write task
                (
                    fresh.withColumn("_cat", F.regexp_replace(F.lit(cat), r"\.", "_"))
                    .withColumn("_ingest_date", F.current_date())
                    .coalesce(1)
                    .write.mode("append")
                    .option("compression", "gzip")
                    .option("maxRecordsPerFile", self.batch_size)
                    .partitionBy("_cat", "_ingest_date")
                    .json(f"{self.root}/raw")
                )
                n_written = obs.get["n"]
            stats_rows.append({"category_name": cat,
                               "time_sec": time.monotonic() - t0,
                               "s3_count": n_written, "pg_count": n_written})
            self._mark_finished(cat)

        if stats_rows:
            cur = self.run_stats.table()
            now = datetime.now(timezone.utc)
            self.run_stats.write(pa.concat_tables([cur, pa.Table.from_pylist(
                [{**r, "updated_at": now} for r in stats_rows],
                schema=cur.schema)]))
        return {"processed": todo, "pending_after": len(self._pending())}

    def drain(self, max_runs: int = 100) -> int:
        """O-35 loop: run until no pending categories. Returns runs."""
        for i in range(max_runs):
            if self.run_once()["pending_after"] == 0:
                return i + 1
        return max_runs

    def _mark_finished(self, category: str) -> None:
        """O-26 (reference arxiv_collector.py:93-100)."""
        cur = self.progress.table()
        now = datetime.now(timezone.utc)
        self.progress.write(pa.Table.from_pylist(
            [{**r, "status": "Finished", "updated_at": now}
             if r["category_name"] == category else r
             for r in cur.to_pylist()], schema=cur.schema))
