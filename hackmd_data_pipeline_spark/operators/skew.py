"""Skew-mitigation operator (100 TB posture; SURVEY.md §7).

Hot keys break hash-partitioned shuffles: one reducer gets the whale
key while the rest idle. ``salted_agg`` is the standard two-phase
remedy, a pure DataFrame composition: explode the key space with a
random-ish salt, partial-aggregate on (key, salt), then final-
aggregate on key. The first shuffle spreads the whale across
``buckets`` reducers; the second moves only ``buckets`` rows per key.
It works for any algebraic aggregate (sum/count/min/max — supply the
merge expressions). Skewed joins need no operator: AQE's skewJoin
splits them at runtime (spark.sql.adaptive.skewJoin.enabled is on in
session.get_spark).

The salt is ``pmod(hash(unique_col), buckets)`` when a unique column
is available (deterministic, testable) else ``floor(rand(seed) *
buckets)``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(df: DataFrame, key_cols: Sequence[str],
               partial_aggs: Sequence[Column], final_aggs: Sequence[Column],
               buckets: int = 16, salt_source: str | None = None,
               seed: int = 42) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``partial_aggs`` aggregate raw rows within (key, salt); per-phase
    output columns must carry names the ``final_aggs`` merge on key.
    Example::

        salted_agg(
            li, ["l_returnflag"],
            partial_aggs=[F.sum("l_quantity").alias("_s"),
                          F.count("*").alias("_c")],
            final_aggs=[F.sum("_s").alias("sum_qty"),
                        F.sum("_c").alias("n_rows")])
    """
    salt = (
        F.pmod(F.hash(F.col(salt_source)), F.lit(buckets))
        if salt_source is not None
        else F.floor(F.rand(seed) * buckets).cast("int")
    )
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(*partial_aggs)
    )
    return partial.groupBy(*key_cols).agg(*final_aggs)
