"""Custom stateful streaming operator (SURVEY.md §2.I extension).

The reference has no custom per-key state beyond its Postgres control
tables; a streaming engine needs one. This module implements
per-user session tracking with ``applyInPandasWithState`` — the
Spark-native building block for operator semantics that watermarked
windows can't express (running per-key aggregates across micro-batches).

Scale posture: state is partitioned by the grouping key across
executors and checkpointed by the streaming engine; each micro-batch
touches only keys present in the batch. The pandas UDF sees Arrow
batches per key — no row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("value_sum", T.DoubleType()),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("value_sum", T.DoubleType()),
])


def track_sessions(events: DataFrame) -> DataFrame:
    """Running per-user totals across micro-batches.

    Input: streaming DataFrame with ``user_id, ts, value``. Output per
    micro-batch: one row per touched key with totals accumulated over
    the whole stream — the state survives micro-batch boundaries via
    the checkpointed state store.

    (Inactivity expiry via GroupStateTimeout is deliberately NOT used
    here: processing-time timeouts keep scheduling micro-batches under
    trigger(availableNow) and never drain. Expiry belongs to a
    continuously-triggered deployment; drain-style runs get closed
    sessions from the batch sessionization query instead.)
    """

    def update(key: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                            "value_sum": [v]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
