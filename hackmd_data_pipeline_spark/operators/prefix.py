"""Distributed prefix sum (running total) over a global ordering.

The naive Spark form — ``SUM(x) OVER (ORDER BY ...)`` with no
partitionBy — funnels the whole table through ONE task, which is the
classic single-reducer scale-killer at 100 TB. This operator is the
scale-correct rewrite, shared by the Pareto-concentration query
(plans/subqueries.py::orders_pareto_customers) and the token-budget
corpus selection (plans/curation.py::docs_token_budget_select):

  1. range-repartition on the order columns — every task owns one
     contiguous slice of the global order;
  2. EAGERLY localCheckpoint the partitioned data, freezing the
     partition assignment in materialized storage;
  3. per-partition sums feed a window over at most
     ``defaultParallelism`` rows (bounded by cluster config, never by
     data cardinality) that yields each slice's prefix offset plus the
     grand total — broadcast back, no driver collect;
  4. the running total is a PARALLEL per-partition window
     (partitionBy spark_partition_id) plus the broadcast offset.

Why the eager checkpoint is a CORRECTNESS requirement, not an
optimization: ``RangePartitioner`` samples split boundaries with an
RDD-id-derived seed. The stats branch and the ranked branch reference
the same repartitionByRange plan, but whether they share one physical
exchange depends on AQE's runtime ReusedExchange cache — when the two
branches each materialize their own range exchange (observed: the
canonically-equal exchanges are NOT always unified), they can sample
DIFFERENT boundaries, and the per-partition offsets no longer describe
the partitions the ranked branch actually holds — silently corrupting
the running total. Materializing the partitioned RDD once removes the
planner heuristic from the correctness path; the three consumers all
read the same frozen partitions. (Caught by a cross-run flake in
docs_token_budget_select at sf0.1 before it shipped.)

Reference parity note: the reference pipeline has no analytics engine
(src/etl/arxiv_etl.py stops at row shuttling); this is north-star
extension machinery.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

# LRU of frozen (checkpointed) range-partitioned inputs, keyed by
# (session id, analyzed-plan semantic hash, order/value params) — the
# same lifecycle discipline as operators/dedup.py::_cached_shingle_
# table (round-3 ADVICE: the per-invocation eager localCheckpoint ran
# a Spark job at plan-build time AND left dead checkpoint blocks to
# accumulate across bench/determinism sweeps). Repeat invocations over
# the same input reuse ONE materialization.
#
# Eviction drops the cache's strong reference ONLY — it must NOT
# unpersist (round-5 review): frozen frames ESCAPE to callers as the
# base of returned lazy plans, localCheckpoint severed their lineage,
# so unpersisting an evicted-but-still-held frame makes the caller's
# later action throw (use-after-evict; proven by
# tests/test_operators_unit.py::test_frozen_frame_survives_cache_
# eviction). Once every holder drops its reference, Spark's weak-value
# persistent-RDD registry + ContextCleaner reclaim the blocks after
# GC. Deterministic unpersist is reserved for EXCLUSIVELY-owned
# frames (operators/freeze.py ownership note; streaming/pipeline.py's
# per-batch freeze is the example).
_FROZEN_CACHE: OrderedDict = OrderedDict()
_FROZEN_CACHE_MAX = 4


def _frozen_range_partitioned(df: DataFrame,
                              order_cols: list[Column | str]) -> DataFrame:
    nparts = df.sparkSession.sparkContext.defaultParallelism
    try:
        key = (id(df.sparkSession),
               df._jdf.queryExecution().analyzed().semanticHash(),
               nparts, str(order_cols))
    except Exception:
        key = None  # plan not hashable — freeze uncached

    if key is not None:
        hit = _FROZEN_CACHE.get(key)
        # id() can be recycled after a session is GC'd — identity-check
        if hit is not None and hit[0] is df.sparkSession:
            _FROZEN_CACHE.move_to_end(key)
            return hit[1]
        if hit is not None:
            _FROZEN_CACHE.pop(key, None)

    pc = (df.repartitionByRange(nparts, *order_cols)
          .withColumn("_pid", F.spark_partition_id())
          .localCheckpoint())
    if key is not None:
        _FROZEN_CACHE[key] = (df.sparkSession, pc)
        while len(_FROZEN_CACHE) > _FROZEN_CACHE_MAX:
            _FROZEN_CACHE.popitem(last=False)  # drop ref; see note above
    return pc


def attach_running_total(
    df: DataFrame,
    value_col: str,
    order_cols: list[Column | str],
    cum_col: str = "cum",
    total_col: str = "total",
    count_col: str | None = None,
) -> DataFrame:
    """Return ``df`` plus broadcast-joined accumulation columns:
    ``cum_col`` — the running total of ``value_col`` along the global
    ordering ``order_cols`` (inclusive of the current row),
    ``total_col`` — the grand total (same value on every row), and,
    when ``count_col`` is given, the grand row count. Ordering must be
    total (include a tiebreaker key) for a deterministic result.
    """
    # Eager checkpoint: freeze the range-partition assignment (see
    # module docstring) and materialize the upstream plan once for
    # the stats, totals, and ranked consumers; LRU-memoized per
    # (session, plan, params) so sweeps don't accumulate dead blocks.
    pc = _frozen_range_partitioned(df, order_cols)

    aggs = [F.sum(value_col).alias("_s")]
    if count_col is not None:
        aggs.append(F.count("*").alias("_c"))
    stats = pc.groupBy("_pid").agg(*aggs)

    # window over <= nparts rows: bounded by cluster parallelism
    woff = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = stats.select(
        "_pid", F.coalesce(F.sum("_s").over(woff), F.lit(0)).alias("_off"))

    tot_aggs = [F.sum("_s").alias(total_col)]
    if count_col is not None:
        tot_aggs.append(F.sum("_c").cast("long").alias(count_col))
    totals = stats.agg(*tot_aggs)

    w = (W.partitionBy("_pid").orderBy(*order_cols)
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        pc.join(F.broadcast(offsets), "_pid")
        .withColumn(cum_col, F.sum(value_col).over(w) + F.col("_off"))
        .crossJoin(F.broadcast(totals))
        .drop("_pid", "_off")
    )
