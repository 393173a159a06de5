"""Incremental rollup maintenance: correctness of the tumbling
aggregate, and the epoch-keyed delta lifecycle (replay-proof appends,
compaction, crash windows, the sketch kind, a real stream).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.rollup import time_rollup
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_SMOKE


def test_rollup_matches_direct_agg(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events")
    rolled = time_rollup(ev, "hour")
    direct = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
    )
    got = {(r.bucket, r.event_type): (r.n_events, round(r.sum_value, 6))
           for r in rolled.collect()}
    want = {(r.bucket, r.event_type): (r.n_events, r.sum_value)
            for r in direct.collect()}
    assert got == want
    # event_date is derived from the bucket, never drifts
    assert all(r.event_date == r.bucket.date() for r in rolled.collect())


def _delta_rollup_env(spark, tmp_path):
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.tables import load_table

    from .conftest import SF_CORRECT

    ev = load_table(spark, SF_CORRECT, "events").filter(
        F.col("event_id") < 20_000)
    b = [ev.filter(F.col("event_id") % 3 == k) for k in range(3)]
    return ev, b, str(tmp_path / "delta_rollup")


def test_delta_rollup_replay_is_exactly_once(spark, tmp_path):
    """Replaying an epoch (the foreachBatch at-least-once case) must
    leave the stored state identical — the in-place merge family
    double-counts here by design (documented caveat)."""
    from hackmd_data_pipeline_spark.operators.rollup import (
        append_rollup_delta, read_rollup, time_rollup)

    ev, b, dest = _delta_rollup_env(spark, tmp_path)
    append_rollup_delta(b[0], dest, epoch_id=0)
    append_rollup_delta(b[1], dest, epoch_id=1)
    append_rollup_delta(b[1], dest, epoch_id=1)  # replay epoch 1
    append_rollup_delta(b[2], dest, epoch_id=2)

    def by_key(df):
        return {(str(r.event_date), str(r.bucket), r.event_type):
                (r.n_events, r.sum_value, r.min_value, r.max_value)
                for r in df.collect()}

    got = by_key(read_rollup(spark, dest))
    want = by_key(time_rollup(ev))
    assert set(got) == set(want)
    for k, (n, s, lo, hi) in want.items():
        gn, gs, glo, ghi = got[k]
        assert (gn, glo, ghi) == (n, lo, hi), k
        # double sums re-associate across partials: tolerance, not ==
        assert gs == pytest.approx(s, rel=1e-12), k


def test_delta_rollup_compact_preserves_view_and_cleans(spark, tmp_path):
    from hackmd_data_pipeline_spark.operators.rollup import (
        append_rollup_delta, compact_rollup, read_rollup)
    from hackmd_data_pipeline_spark.sources.fs import fs_exists, fs_list_dirs

    ev, b, dest = _delta_rollup_env(spark, tmp_path)
    for i in range(3):
        append_rollup_delta(b[i], dest, epoch_id=i)
    before = sorted(tuple(r) for r in read_rollup(spark, dest).collect())

    res = compact_rollup(spark, dest)
    assert res == {"gen": 1, "absorbed": 3}
    after = sorted(tuple(r) for r in read_rollup(spark, dest).collect())
    assert after == before
    # absorbed deltas cleaned, active gen present
    assert fs_list_dirs(spark, dest + "/deltas") == []
    assert fs_exists(spark, dest + "/gen-1/data/_SUCCESS")

    # new deltas after compaction merge on top of the generation
    append_rollup_delta(b[0], dest, epoch_id=3)  # same rows again, new epoch
    res2 = compact_rollup(spark, dest)
    assert res2["gen"] == 2 and res2["absorbed"] == 4
    assert not fs_exists(spark, dest + "/gen-1")  # stale gen removed


def test_delta_rollup_crash_window_absorbed_delta_ignored(spark, tmp_path):
    """Crash after pointer flip but before cleanup: an absorbed
    delta's directory still exists — readers must ignore it (ledger)
    and the next compaction must delete it without re-merging."""
    from hackmd_data_pipeline_spark.operators.rollup import (
        append_rollup_delta, compact_rollup, read_rollup)
    from hackmd_data_pipeline_spark.sources.fs import fs_exists

    ev, b, dest = _delta_rollup_env(spark, tmp_path)
    for i in range(3):
        append_rollup_delta(b[i], dest, epoch_id=i)
    compact_rollup(spark, dest)
    view = sorted(tuple(r) for r in read_rollup(spark, dest).collect())

    # simulate the crash window: re-create an absorbed delta dir
    append_rollup_delta(b[1], dest, epoch_id=1)
    assert sorted(tuple(r) for r in read_rollup(spark, dest).collect()) == view
    res = compact_rollup(spark, dest)  # no pending: cleanup only
    assert res["gen"] == 1
    assert not fs_exists(spark, dest + "/deltas/epoch=1")
    assert sorted(tuple(r) for r in read_rollup(spark, dest).collect()) == view


def test_delta_rollup_sketch_kind(spark, tmp_path):
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.rollup import (
        append_rollup_delta, compact_rollup, read_rollup,
        time_rollup_sketch)

    ev, b, dest = _delta_rollup_env(spark, tmp_path)
    for i in range(3):
        append_rollup_delta(b[i], dest, epoch_id=i, kind="sketch",
                            grain="day")
    compact_rollup(spark, dest, kind="sketch")

    got = {(str(r.event_date), r.event_type): r.n_events
           for r in read_rollup(spark, dest, kind="sketch").collect()}
    est = {(str(r.event_date), r.event_type): r.est for r in
           read_rollup(spark, dest, kind="sketch")
           .select("event_date", "event_type",
                   F.hll_sketch_estimate("users_hll").alias("est")).collect()}
    single = (time_rollup_sketch(ev, grain="day")
              .select("event_date", "event_type",
                      F.hll_sketch_estimate("users_hll").alias("est"),
                      "n_events"))
    for r in single.collect():
        key = (str(r.event_date), r.event_type)
        assert est[key] == r.est, "incremental sketch != single pass"
        assert got[key] == r.n_events


def test_streaming_delta_rollup_end_to_end(spark, tmp_path):
    """The replay-proof path wired through real Structured Streaming:
    foreachBatch passes its epoch id to append_rollup_delta; two
    availableNow drains + a no-op re-run; the compacted view equals
    the one-shot batch rollup."""
    from hackmd_data_pipeline_spark.operators.rollup import (
        append_rollup_delta, compact_rollup, read_rollup, time_rollup)
    from hackmd_data_pipeline_spark.tables import load_table

    from .conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    src = tmp_path / "dstream_src"
    src.mkdir()
    dest = str(tmp_path / "drollup")
    ckpt = str(tmp_path / "dckpt")
    schema = ev.schema

    def run_available():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (stream.writeStream
             .foreachBatch(lambda b, e: append_rollup_delta(b, dest, e))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "drop1"))
    run_available()
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "drop2"))
    run_available()
    run_available()  # nothing new: no extra epoch, no state change

    compact_rollup(spark, dest)

    def by_key(df):
        return {(str(r.event_date), str(r.bucket), r.event_type):
                (r.n_events, r.min_value, r.max_value)
                for r in df.collect()}

    assert by_key(read_rollup(spark, dest)) == by_key(time_rollup(ev))


def test_hour_rollup_reaggregates_to_day_rollup(spark):
    """Grain algebra: the mergeable summary set re-aggregates exactly
    — day rollup computed FROM the hour rollup equals the direct day
    rollup (counts/min/max exact, double sums to 1e-12 rel). This is
    the property that lets a 100 TB store keep only the finest grain
    and derive coarser ones."""
    ev = load_table(spark, SF_SMOKE, "events")
    direct = time_rollup(ev, "day")
    from_hour = (
        time_rollup(ev, "hour")
        .groupBy("event_date", "event_type")
        .agg(F.sum("n_events").alias("n_events"),
             F.sum("sum_value").alias("sum_value"),
             F.min("min_value").alias("min_value"),
             F.max("max_value").alias("max_value")))
    want = {(str(r.event_date), r.event_type):
            (r.n_events, r.sum_value, r.min_value, r.max_value)
            for r in direct.collect()}
    got = {(str(r.event_date), r.event_type):
           (r.n_events, r.sum_value, r.min_value, r.max_value)
           for r in from_hour.collect()}
    assert set(got) == set(want)
    for k, (n, s, lo, hi) in want.items():
        gn, gs, glo, ghi = got[k]
        assert (gn, glo, ghi) == (n, lo, hi), k
        assert gs == pytest.approx(s, rel=1e-12), k
