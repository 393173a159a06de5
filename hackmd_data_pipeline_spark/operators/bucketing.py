"""Bucketed-table layout: pre-shuffled storage for co-located joins.

The reference's physical-layout intent is index + partition pruning
(B-tree/GIN, reference src/utils/initial/create_table.sql:76-81; S3
key layout raw/{category}/{date}, arxiv_collector.py:175). Spark's
third layout axis — and the one that matters most at 100 TB — is
BUCKETING: hash-partition the table on its join/agg key at WRITE time,
so every subsequent equi-join or aggregation on that key runs with
ZERO exchange. A fact table joined daily on the same key amortizes its
one write-time shuffle across every downstream query.

Semantics: ``write_bucketed`` registers a catalog table whose files
are hash-bucketed by ``bucket_cols`` into ``num_buckets`` buckets and
optionally sorted within buckets (sorted buckets additionally drop the
sort of a sort-merge join and enable min/max row-group skipping on the
sort key). Two tables bucketed by the same key into the same bucket
count join shuffle-free; a groupBy on the bucket key aggregates
shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   num_buckets: int, sort_cols: list[str] | None = None,
                   path: str | None = None, mode: str = "overwrite") -> None:
    """Persist ``df`` as a bucketed catalog table (parquet).

    ``num_buckets`` is a scale decision made once per table: buckets
    are the unit of join parallelism, so pick ~(cluster cores x 2-4)
    for fact tables; both sides of a co-located join MUST agree on
    (bucket_cols, num_buckets).

    ``sort_cols`` caveat: since Spark 3 (SPARK-28595) the reader
    ignores the stored per-bucket sort by default; merge joins elide
    their Sort operators only with
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` AND
    exactly one file per bucket (one writing task, or a post-write
    compaction). Otherwise buckets still join shuffle-free but
    re-sort defensively. Both modes are plan-asserted in
    tests/test_bucketing.py.
    """
    w = df.write.format("parquet").mode(mode)
    if path is not None:
        w = w.option("path", path)
    w = w.bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
