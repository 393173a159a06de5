"""Maintenance operators: partition retention.
"""

from __future__ import annotations


def test_retention_sweep_drops_old_partitions(spark, tmp_path):
    """Partition-scoped retention DELETE: values below the cutoff are
    removed wholesale, newer partitions stay byte-identical, re-runs
    are idempotent, and foreign directories are untouched."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.maintenance import retention_sweep

    dest = str(tmp_path / "rollup")
    rows = [(d, i, float(i)) for i, d in enumerate(
        ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"])]
    (spark.createDataFrame(rows, ["d", "k", "v"])
     .withColumn("d", F.col("d").cast("date"))
     .write.partitionBy("d").parquet(dest))

    out = retention_sweep(spark, dest, "d", keep_from="2024-01-03")
    assert out["dropped"] == ["2024-01-01", "2024-01-02"]
    assert out["kept"] == ["2024-01-03", "2024-01-04"]

    kept = spark.read.parquet(dest)
    assert sorted(r.k for r in kept.collect()) == [2, 3]

    again = retention_sweep(spark, dest, "d", keep_from="2024-01-03")
    assert again["dropped"] == [] and again["kept"] == out["kept"]


def test_retention_sweep_unescapes_and_skips_null_partition(spark, tmp_path):
    """Hive-escaped partition values (timestamps carry %3A) compare in
    UNESCAPED form, and __HIVE_DEFAULT_PARTITION__ (NULL) is never
    dropped by a value cutoff — reported under 'skipped' (round-3
    ADVICE)."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.maintenance import (
        retention_sweep,
    )

    dest = str(tmp_path / "ts_rollup")
    rows = [("2024-01-01 08:00:00", 0, 0.0),
            ("2024-01-02 09:30:00", 1, 1.0),
            ("2024-01-03 10:45:00", 2, 2.0),
            (None, 3, 3.0)]
    (spark.createDataFrame(rows, ["ts", "k", "v"])
     .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
     .write.partitionBy("ts").parquet(dest))

    out = retention_sweep(spark, dest, "ts",
                          keep_from="2024-01-02 00:00:00")
    assert out["dropped"] == ["2024-01-01 08:00:00"]
    assert out["kept"] == ["2024-01-02 09:30:00", "2024-01-03 10:45:00"]
    assert out["skipped"] == ["__HIVE_DEFAULT_PARTITION__"]
    kept = spark.read.parquet(dest)
    assert sorted(r.k for r in kept.collect()) == [1, 2, 3]
