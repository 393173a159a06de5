"""Incremental time-rollup maintenance (hypertable-style aggregates).

A 100 TB events store is queried through pre-aggregated rollups
(hourly/daily), not raw scans. The maintenance problem is INCREMENTAL
refresh: each micro-batch of events must land in the rollup at
O(batch) cost, and a replayed batch must not count twice. The
rollup's aggregates are MERGEABLE (count/sum/min/max, and HLL sketch
registers for distinct users), so every batch is rolled up on its own
and written as an epoch-keyed delta; readers merge the deltas at read
time and compaction folds them into a generation (layout below). The
epoch key is the idempotency contract the reference gets from ON
CONFLICT DO NOTHING (reference src/core/pg_engine.py:113) transplanted
to analytical storage.
"""

from __future__ import annotations

from collections.abc import Sequence

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


# --------------------------------------------------------------------
# Exactly-once rollup maintenance: delta-epoch layout
#
# Structured Streaming is at-least-once per epoch, so a merge into
# shared date partitions IN PLACE would re-merge a retried batch and
# double-count it. The delta-epoch layout is the replay-proof form:
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
