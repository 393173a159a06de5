from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from hackmd_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECT}/{t}.parquet'")
    yield con
    con.close()


def local_df(spark, rows, schema):
    """Test-fixture DataFrame as a JVM Arrow local relation.

    ``spark.createDataFrame(python_list)`` plans a
    defaultParallelism-slice pickled RDD; the ``coalesce(1)`` most
    fixture writes use then evaluates all 32 slices SEQUENTIALLY
    through one task's Python worker (~5-8 s per tiny write on
    local[32] — r12). Routing the rows through pandas/Arrow plans one
    JVM local batch instead (~0.3 s), with identical values."""
    import pandas as pd
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not isinstance(schema, T.StructType) or not rows:
        # unsupported schema shape (list of names, inference) or empty
        # input: plain path — callers that hit this keep old behavior
        return spark.createDataFrame(rows, schema)
    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}
    return spark.createDataFrame(pd.DataFrame(cols), schema)


def jobs_launched(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted through a job
    group of its own once the listener bus has delivered every event
    (the status tracker is fed asynchronously)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-launched-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
