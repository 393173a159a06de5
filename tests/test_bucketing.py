"""Bucketed-layout tests: the write-once-shuffle-never contract.

The whole point of bucketing is plan-shape, so these tests assert on
the executed plan: a join between two same-bucketed tables must show
ZERO shuffle exchanges, and a groupBy on the bucket key must aggregate
in one pass without an exchange.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.bucketing import write_bucketed
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_CORRECT


def _plan(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


N_SHUFFLE = re.compile(r"\bExchange (hash|range)partitioning")


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    # common key name on both sides so the join is a plain `on=[key]`;
    # ONE input task -> one file per bucket, the condition under which
    # the reader trusts the stored per-bucket sort (multi-file buckets
    # make Spark re-sort defensively)
    o = (load_table(spark, SF_CORRECT, "orders")
         .withColumnRenamed("o_orderkey", "orderkey").coalesce(1))
    li = (load_table(spark, SF_CORRECT, "lineitem")
          .withColumnRenamed("l_orderkey", "orderkey").coalesce(1))
    write_bucketed(o, "orders_b", ["orderkey"], 8,
                   sort_cols=["orderkey"], path=str(root / "orders_b"))
    write_bucketed(li, "lineitem_b", ["orderkey"], 8,
                   sort_cols=["orderkey"], path=str(root / "lineitem_b"))
    yield
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_colocated_join_no_shuffle(spark, bucketed):
    # force the join path (not broadcast) so the assertion is about
    # bucketing, not about the small test input
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # Spark 3+ ignores the stored per-bucket sort by default
        # (SPARK-28595); this legacy conf re-enables sorted-scan
        # output ordering when each bucket is a single file
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = (spark.table("orders_b")
                  .join(spark.table("lineitem_b"), ["orderkey"])
                  .select("orderkey", "o_totalprice", "l_extendedprice"))
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert not N_SHUFFLE.search(plan), f"bucketed join shuffled:\n{plan}"
        # write-time sortBy + one file per bucket + the conf above =>
        # the merge join needs NO Sort operators either
        assert not re.search(r"\(\d+\) Sort\b", plan), (
            f"bucketed join re-sorted despite sortBy:\n{plan}")
        assert joined.count() == 60000
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_groupby_on_bucket_key_no_shuffle(spark, bucketed):
    agg = (spark.table("lineitem_b").groupBy("orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty")))
    plan = _plan(agg)
    assert not N_SHUFFLE.search(plan), f"bucket-key agg shuffled:\n{plan}"
    assert agg.count() == (
        spark.table("lineitem_b").select("orderkey").distinct().count())


def test_colocated_join_values_match_plain_join(spark, bucketed):
    o = load_table(spark, SF_CORRECT, "orders")
    li = load_table(spark, SF_CORRECT, "lineitem")
    want = o.join(li, o.o_orderkey == li.l_orderkey).count()
    got = spark.table("orders_b").join(spark.table("lineitem_b"),
                                       ["orderkey"]).count()
    assert got == want
