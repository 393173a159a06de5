"""Incremental time-rollup maintenance (hypertable-style aggregates).

A 100 TB events store is queried through pre-aggregated rollups
(hourly/daily), not raw scans. The maintenance problem is INCREMENTAL
refresh: when late data lands for a handful of dates, recompute ONLY
those date partitions, idempotently, without touching the rest of the
rollup table. Spark-native answer: date-partitioned parquet +
``partitionOverwriteMode=dynamic`` — the write replaces exactly the
partitions present in the refresh DataFrame and leaves every other
partition byte-identical. Re-running the same refresh is a no-op
(same input -> same partition contents), which is the idempotency
contract the reference gets from ON CONFLICT DO NOTHING (reference
src/core/pg_engine.py:113) transplanted to analytical storage.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_GRAINS = ("hour", "day")


def _trunc(ts, grain: str):
    """NTZ-safe truncation: integer epoch arithmetic. date_trunc would
    coerce a TIMESTAMP_NTZ through the session timezone — under a
    non-UTC driver session the bucket boundaries would shift."""
    if grain not in _GRAINS:
        raise ValueError(f"grain must be one of {_GRAINS}, got {grain!r}")
    unit = grain.upper()
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_add(unit, F.timestamp_diff(unit, epoch, ts), epoch)


def time_rollup(events: DataFrame, grain: str = "hour",
                ts_col: str = "ts", key_cols: Sequence[str] = ("event_type",),
                value_col: str = "value") -> DataFrame:
    """Tumbling-``grain`` aggregate: one row per (bucket, *key_cols)
    with count / sum / min / max — the mergeable-summary set (avg is
    derivable as sum/count downstream; quantiles would use mergeable
    approx sketches). Single shuffle on the group keys; the
    ``event_date`` column doubles as the storage partition key."""
    bucket = _trunc(F.col(ts_col), grain)
    return (
        events.groupBy(F.to_date(bucket).alias("event_date"),
                       bucket.alias("bucket"), *key_cols)
        .agg(F.count("*").alias("n_events"),
             F.sum(value_col).alias("sum_value"),
             F.min(value_col).alias("min_value"),
             F.max(value_col).alias("max_value"))
    )


def refresh_rollup(events: DataFrame, dest: str, grain: str = "hour",
                   dates: Sequence[str] | None = None,
                   ts_col: str = "ts",
                   key_cols: Sequence[str] = ("event_type",),
                   value_col: str = "value") -> None:
    """(Re)build the rollup at ``dest`` for ``dates`` (None = all).

    The date filter is applied to the RAW events before aggregation —
    at scale the events table is itself date-partitioned, so the
    filter prunes input partitions and the refresh reads only the
    affected dates' data. Dynamic partition overwrite then swaps in
    exactly those output partitions atomically per-partition."""
    spark = events.sparkSession
    if dates is not None:
        events = events.filter(F.to_date(_trunc(F.col(ts_col), grain))
                               .isin([str(d) for d in dates]))
    rolled = time_rollup(events, grain, ts_col, key_cols, value_col)
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (rolled.repartition("event_date")
         .write.partitionBy("event_date").mode("overwrite").parquet(dest))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def merge_rollup_batch(batch: DataFrame, dest: str, grain: str = "hour",
                       ts_col: str = "ts",
                       key_cols: Sequence[str] = ("event_type",),
                       value_col: str = "value") -> None:
    """Merge one micro-batch of raw events into the rollup at ``dest``.

    The rollup's aggregates are MERGEABLE (count/sum/min/max), so a
    streaming refresh never re-reads the raw history: aggregate the
    batch, union it with the EXISTING rollup rows of just the affected
    dates, re-aggregate (sum the counts/sums, min/max the extremes),
    and dynamic-partition-overwrite those dates. Cost per micro-batch
    is proportional to the batch + touched partitions, independent of
    total history size — the property that makes a 100 TB rollup
    maintainable from a stream.

    CAVEAT — at-least-once: foreachBatch retries a failed epoch, and
    this merge reads state it may already have updated, so a replay
    DOUBLE-COUNTS the batch. Use it only where the caller dedups
    upstream or a rare overcount is tolerable; the replay-proof form
    is the delta-epoch API below (``append_rollup_delta`` +
    ``compact_rollup``), which keys every write by the epoch id.
    """
    spark = batch.sparkSession
    delta = time_rollup(batch, grain, ts_col, key_cols, value_col)
    dates = [str(r.event_date)
             for r in delta.select("event_date").distinct().collect()]
    if not dates:
        return
    merged = delta
    try:
        existing = (spark.read.parquet(dest)
                    .filter(F.col("event_date").isin(dates))
                    .select(*delta.columns))
        merged = delta.unionByName(existing)
    except AnalysisException as e:
        # first batch: no rollup exists yet. ONLY the missing-path
        # case may be swallowed — schema drift (also an
        # AnalysisException: unresolved column) and FS errors must
        # propagate, or the dynamic-partition overwrite below would
        # silently replace affected dates with delta-only aggregates.
        if "PATH_NOT_FOUND" not in str(e):
            raise
    merged = (
        merged.groupBy("event_date", "bucket", *key_cols)
        .agg(F.sum("n_events").alias("n_events"),
             F.sum("sum_value").alias("sum_value"),
             F.min("min_value").alias("min_value"),
             F.max("max_value").alias("max_value"))
        # materialize BEFORE the write: the plan reads the same path
        # it is about to overwrite (classic self-overwrite hazard)
        .localCheckpoint(eager=True)
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (merged.repartition("event_date")
         .write.partitionBy("event_date").mode("overwrite").parquet(dest))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def time_rollup_sketch(events: DataFrame, grain: str = "day",
                       ts_col: str = "ts",
                       key_cols: Sequence[str] = ("event_type",),
                       user_col: str = "user_id") -> DataFrame:
    """Tumbling-``grain`` DISTINCT-USER rollup as a mergeable HLL
    sketch column: one row per (bucket, *key_cols) carrying
    ``users_hll`` (binary DataSketches HLL state) + ``n_events``.

    COUNT(DISTINCT) is the one aggregate the count/sum/min/max rollup
    family cannot maintain incrementally — re-aggregating distincts
    requires the raw history. Sketches restore mergeability: the HLL
    register state unions associatively, so per-batch sketches merge
    into the stored ones register-wise and the estimate over any date
    range is one ``hll_union_agg`` + ``hll_sketch_estimate`` away,
    never a raw re-scan. This is the standard 100 TB rollup design for
    distinct counts (same posture as agg_hll_mergeable, persisted)."""
    bucket = _trunc(F.col(ts_col), grain)
    return (
        events.groupBy(F.to_date(bucket).alias("event_date"),
                       bucket.alias("bucket"), *key_cols)
        .agg(F.hll_sketch_agg(user_col).alias("users_hll"),
             F.count("*").alias("n_events"))
    )


def merge_rollup_sketch_batch(batch: DataFrame, dest: str,
                              grain: str = "day", ts_col: str = "ts",
                              key_cols: Sequence[str] = ("event_type",),
                              user_col: str = "user_id") -> None:
    """Merge one micro-batch into the HLL distinct-user rollup at
    ``dest`` — the sketch analogue of ``merge_rollup_batch``: sketch
    the batch, union register-wise with the stored sketches of the
    affected dates, dynamic-partition-overwrite those dates. HLL
    union is exact over the register state (the merged sketch is
    IDENTICAL to a single-pass sketch of the union — asserted in
    tests/test_rollup.py), so incremental maintenance loses nothing
    vs a full rebuild. Distinct counts survive replay (HLL union is
    idempotent register-wise) but ``n_events`` carries the same
    at-least-once double-count caveat as ``merge_rollup_batch`` — the
    replay-proof form is ``append_rollup_delta(kind='sketch')``."""
    spark = batch.sparkSession
    delta = time_rollup_sketch(batch, grain, ts_col, key_cols, user_col)
    dates = [str(r.event_date)
             for r in delta.select("event_date").distinct().collect()]
    if not dates:
        return
    merged = delta
    try:
        existing = (spark.read.parquet(dest)
                    .filter(F.col("event_date").isin(dates))
                    .select(*delta.columns))
        merged = delta.unionByName(existing)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
    merged = (
        merged.groupBy("event_date", "bucket", *key_cols)
        .agg(F.hll_union_agg("users_hll").alias("users_hll"),
             F.sum("n_events").alias("n_events"))
        .localCheckpoint(eager=True)  # self-overwrite hazard, as above
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (merged.repartition("event_date")
         .write.partitionBy("event_date").mode("overwrite").parquet(dest))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


# --------------------------------------------------------------------
# Exactly-once rollup maintenance: delta-epoch layout
#
# ``merge_rollup_batch`` / ``merge_rollup_sketch_batch`` merge into
# shared date partitions IN PLACE, so a foreachBatch retry (Structured
# Streaming is at-least-once per epoch) re-merges an already-applied
# batch and double-counts — the same replay hazard round-2 ADVICE
# found in streaming/neardup. The delta-epoch layout below is the
# replay-proof form:
#
#   dest/deltas/epoch=<id>/   per-epoch rolled-up batch, written with
#                             OVERWRITE keyed by the foreachBatch
#                             epoch id -> a replay rewrites the same
#                             directory, never appends
#   dest/gen-<k>/data/        compacted base (all absorbed deltas)
#   dest/gen-<k>/epochs/      parquet ledger of absorbed epoch ids
#   dest/_current             pointer file naming the active gen
#
# Readers merge (active gen) + (deltas whose epoch is NOT in the
# gen's ledger) at read time; compaction folds pending deltas into a
# NEW generation and flips the pointer, so every crash window either
# re-does idempotent work or is cleaned by the next compaction:
#   - crash before flip: orphan gen-<k+1> is overwritten next time
#   - crash after flip, before cleanup: stale gen / absorbed deltas
#     are ignored by readers (ledger) and deleted next compaction.
# Pointer flip is a rename: atomic on POSIX/HDFS (S3A caveat in
# sources/fs.py::fs_rename).
# --------------------------------------------------------------------

_ROLLUP_KINDS = ("plain", "sketch")


def _rollup_delta_frame(batch: DataFrame, kind: str, grain: str,
                        ts_col: str, key_cols: Sequence[str],
                        value_col: str, user_col: str) -> DataFrame:
    if kind == "plain":
        return time_rollup(batch, grain, ts_col, key_cols, value_col)
    return time_rollup_sketch(batch, grain, ts_col, key_cols, user_col)


def _rollup_merge(df: DataFrame, kind: str,
                  key_cols: Sequence[str]) -> DataFrame:
    g = df.groupBy("event_date", "bucket", *key_cols)
    if kind == "plain":
        return g.agg(F.sum("n_events").alias("n_events"),
                     F.sum("sum_value").alias("sum_value"),
                     F.min("min_value").alias("min_value"),
                     F.max("max_value").alias("max_value"))
    return g.agg(F.hll_union_agg("users_hll").alias("users_hll"),
                 F.sum("n_events").alias("n_events"))


def _active_gen(spark: SparkSession, dest: str) -> int:
    from ..sources.fs import fs_exists, fs_read_text

    ptr = dest + "/_current"
    if not fs_exists(spark, ptr):
        return 0
    name = fs_read_text(spark, ptr).strip()
    return int(name.split("-", 1)[1]) if name.startswith("gen-") else 0


def _absorbed_epochs(spark: SparkSession, dest: str, gen: int) -> set[int]:
    from ..sources.fs import fs_exists

    path = f"{dest}/gen-{gen}/epochs"
    if gen == 0 or not fs_exists(spark, path + "/_SUCCESS"):
        return set()
    return {r.epoch for r in spark.read.parquet(path).collect()}


def _pending_deltas(spark: SparkSession, dest: str,
                    absorbed: set[int]) -> list[int]:
    from ..sources.fs import fs_list_dirs

    out = []
    for name in fs_list_dirs(spark, dest + "/deltas"):
        if name.startswith("epoch="):
            e = int(name.split("=", 1)[1])
            if e not in absorbed:
                out.append(e)
    return sorted(out)


def append_rollup_delta(batch: DataFrame, dest: str, epoch_id: int,
                        kind: str = "plain", grain: str = "hour",
                        ts_col: str = "ts",
                        key_cols: Sequence[str] = ("event_type",),
                        value_col: str = "value",
                        user_col: str = "user_id") -> None:
    """Write one micro-batch's rollup as an epoch-keyed delta.

    Pass the ``foreachBatch`` epoch id: a retried epoch OVERWRITES its
    own directory, so at-least-once replay converges to exactly-once
    stored state. O(batch) work, no read of any existing state."""
    assert kind in _ROLLUP_KINDS
    delta = _rollup_delta_frame(batch, kind, grain, ts_col, key_cols,
                                value_col, user_col)
    delta.write.mode("overwrite").parquet(f"{dest}/deltas/epoch={epoch_id}")


def read_rollup(spark: SparkSession, dest: str, kind: str = "plain",
                key_cols: Sequence[str] = ("event_type",)) -> DataFrame:
    """Merged view over (active generation) + (pending deltas).

    Read cost grows with the number of un-compacted deltas — run
    ``compact_rollup`` periodically (its absence never affects
    correctness, only read amplification)."""
    from ..sources.fs import fs_exists

    assert kind in _ROLLUP_KINDS
    gen = _active_gen(spark, dest)
    absorbed = _absorbed_epochs(spark, dest, gen)
    parts = []
    if gen and fs_exists(spark, f"{dest}/gen-{gen}/data/_SUCCESS"):
        parts.append(spark.read.parquet(f"{dest}/gen-{gen}/data"))
    parts.extend(spark.read.parquet(f"{dest}/deltas/epoch={e}")
                 for e in _pending_deltas(spark, dest, absorbed))
    if not parts:
        raise ValueError(f"empty rollup store at {dest}")
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return _rollup_merge(df, kind, key_cols)


def compact_rollup(spark: SparkSession, dest: str, kind: str = "plain",
                   key_cols: Sequence[str] = ("event_type",)) -> dict:
    """Fold pending deltas into a new generation and flip the pointer.

    Safe to crash anywhere (see layout comment) and safe to re-run;
    returns {'gen': new_gen, 'absorbed': n_epochs_total}."""
    from ..session import arrow_local_df
    from ..sources.fs import fs_write_text

    assert kind in _ROLLUP_KINDS
    gen = _active_gen(spark, dest)
    absorbed = _absorbed_epochs(spark, dest, gen)
    pending = _pending_deltas(spark, dest, absorbed)
    if not pending:  # nothing new: just clean stale dirs and return
        _cleanup_rollup(spark, dest, gen, absorbed)
        return {"gen": gen, "absorbed": len(absorbed)}

    merged = read_rollup(spark, dest, kind, key_cols).localCheckpoint(
        eager=True)  # materialize BEFORE touching directories
    new_gen = gen + 1
    merged.write.mode("overwrite").parquet(f"{dest}/gen-{new_gen}/data")
    all_epochs = sorted(absorbed | set(pending))
    # Arrow local relation: plain createDataFrame + coalesce(1) pays
    # ~0.2 s per Python partition sequentially (session.arrow_local_df)
    (arrow_local_df(spark, {"epoch": [int(e) for e in all_epochs]},
                    "epoch long")
     .coalesce(1).write.mode("overwrite")
     .parquet(f"{dest}/gen-{new_gen}/epochs"))
    fs_write_text(spark, dest + "/_current", f"gen-{new_gen}")
    _cleanup_rollup(spark, dest, new_gen, set(all_epochs))
    return {"gen": new_gen, "absorbed": len(all_epochs)}


def _cleanup_rollup(spark: SparkSession, dest: str, active_gen: int,
                    absorbed: set[int]) -> None:
    """Delete stale generations and absorbed delta dirs (never the
    active gen or un-absorbed deltas)."""
    from ..sources.fs import fs_delete, fs_list_dirs

    for name in fs_list_dirs(spark, dest):
        if name.startswith("gen-") and int(name.split("-", 1)[1]) != active_gen:
            fs_delete(spark, f"{dest}/{name}")
    for name in fs_list_dirs(spark, dest + "/deltas"):
        if name.startswith("epoch=") and int(name.split("=", 1)[1]) in absorbed:
            fs_delete(spark, f"{dest}/deltas/{name}")
