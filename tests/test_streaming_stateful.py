"""applyInPandasWithState session tracking: run a micro-batched stream
through the stateful operator and check the running totals accumulate
across separate stream runs (state survives via the checkpointed state
store).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import types as T

from hackmd_data_pipeline_spark.streaming.stateful import track_sessions

from .conftest import local_df

EVENT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("value", T.DoubleType()),
])


def _write_batch(spark, d, name, rows):
    local_df(spark, rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(str(d / name))


def _drain(spark, source_dir, ckpt):
    """Run the stream to exhaustion; return {user_id: Row} of the last
    emission per key (update mode re-emits touched keys)."""
    collected: list = []

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(source_dir / "*"))
    out = track_sessions(stream)
    q = (
        out.writeStream.foreachBatch(
            lambda batch, _eid: collected.extend(batch.collect()))
        .option("checkpointLocation", str(ckpt))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {r.user_id: r for r in collected}


def test_stateful_sessions_accumulate(spark, tmp_path):
    source_dir = tmp_path / "stream_src"
    source_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    t = dt.datetime(2024, 1, 1, 0, 0, 0)

    _write_batch(spark, source_dir, "b1",
                 [(1, t, 10.0), (1, t, 5.0), (2, t, 1.0)])
    run1 = _drain(spark, source_dir, ckpt)
    assert run1[1].n_events == 2 and run1[1].value_sum == 15.0
    assert run1[2].n_events == 1

    # second run, same checkpoint: user 1 adds events -> totals carry on
    _write_batch(spark, source_dir, "b2", [(1, t, 2.0), (3, t, 7.0)])
    run2 = _drain(spark, source_dir, ckpt)
    assert run2[1].n_events == 3 and run2[1].value_sum == 17.0  # state carried
    assert run2[3].n_events == 1 and run2[3].value_sum == 7.0
    assert 2 not in run2  # untouched key not re-emitted in update mode
