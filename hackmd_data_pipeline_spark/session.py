"""SparkSession factory.

The reference is UTC-everywhere (datetime.now(timezone.utc) at
reference src/extract/arxiv_collector.py:110,138,172 and
src/etl/arxiv_etl.py:81,93-94), so the session timezone is pinned to
UTC — this also keeps DuckDB oracle comparisons deterministic.

Scale posture: AQE on (runtime coalescing + skew-join splitting),
shuffle partitions sized for the local harness but overridable via
env for a real cluster, Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "hackmd_data_pipeline_spark",
              shuffle_partitions: str | int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] on the test harness; on a real cluster the master and
    memory come from spark-submit — only the semantic configs here
    (timezone, AQE, Arrow) matter.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    max_failures = os.environ.get("SPARK_GRAFT_TASK_MAX_FAILURES")
    default_master = (f"local[{cpus}, {max_failures}]" if max_failures
                      else f"local[{cpus}]")
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_GRAFT_MASTER", default_master))
        .appName(app_name)
        # correctness-critical: UTC like the reference; no silent ansi drift
        .config("spark.sql.session.timeZone", "UTC")
        # scale: adaptive execution re-plans shuffles at runtime
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # sink retry posture (reference arxiv_collector.py:177-193: a
        # 3-attempt exponential-backoff S3 upload). Spark's equivalent
        # is TASK retry under the file-commit protocol: a failed write
        # task's attempt directory is discarded and the retry commits
        # alone, so retries are exactly-once per task (demonstrated in
        # tests/test_write_retry.py). maxFailures=4 = 3 retries, the
        # reference's budget. NOTE: cluster managers honor this conf;
        # local[N] hardcodes 1 — for local resilience tests use
        # SPARK_GRAFT_TASK_MAX_FAILURES, which switches the master to
        # the local[N, F] form.
        .config("spark.task.maxFailures", "4")
        # reliable-checkpoint GC backstop (r07 ADVICE): lets Spark's
        # ContextCleaner delete checkpoint files of GC'd RDDs when the
        # reliable mode (spark.graft.checkpointDir) is on. Iterative
        # operators additionally delete superseded rounds
        # DETERMINISTICALLY via operators/checkpointing.CheckpointRotator
        # — this conf covers the one-shot checkpoints (e.g. the
        # substring-dedup position table) that have no round structure.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # slow-path UDFs go through Arrow batches, never per-row pickle
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_local_df(spark: SparkSession, columns: dict, schema: str):
    """Small LOCAL DataFrame built through a pandas/Arrow relation.

    ``spark.createDataFrame(rows, schema)`` on a plain Python list
    spreads the rows over ``defaultParallelism`` PYTHON-evaluated
    partitions; a downstream ``coalesce(1)`` (every tiny metadata
    write: centroids, codebooks, epoch ledgers) then evaluates all of
    them SEQUENTIALLY in one task at ~0.2 s of Python round-trip each
    — measured 5-6 s to write 16 centroid rows on local[32] (r09).
    The pandas path materializes a JVM-side Arrow local relation
    instead: same values (python floats are exact doubles through
    Arrow), and the coalesced write drops to ~0.3 s. ``columns`` maps
    column name -> list of values, in schema order."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(columns), schema)


def jvm_local_df(spark: SparkSession, jrows, schema):
    """DataFrame over JVM-side rows (a ``java.util.List`` of ``Row``)
    as a JVM local relation typed by EXACTLY ``schema`` — nullability
    included, which every file-source read and expression-built frame
    drops. Nothing crosses into Python, and the planner sees the true
    (tiny) size: broadcastable, and pruned as empty when it is.
    ``schema`` may be a StructType or a DDL string."""
    from pyspark.sql import DataFrame
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    js = spark._jsparkSession
    return DataFrame(js.createDataFrame(jrows, js.parseDataType(schema.json())),
                     spark)


def empty_local_df(spark: SparkSession, schema):
    """Empty DataFrame with exactly ``schema`` as a JVM local relation.

    ``spark.createDataFrame([], schema)`` builds a python-parallelized
    relation of ``defaultParallelism`` EMPTY pickled slices — each
    still costs a Python-worker round trip when evaluated, and a
    downstream ``coalesce(1)`` (the control-table generation write)
    walks all of them sequentially in one task (measured 10.5 s for an
    EMPTY 32-slice relation on local[32], r12). ``range(0)`` + typed
    null casts loses the declared nullability, and
    ``createDataFrame(emptyRDD(), schema)`` keeps it but plans as an
    RDD scan of unknown size (a left-anti join against it became a
    SortMergeJoin: 0.80 s vs 0.008 s on 4 cores)."""
    return jvm_local_df(spark, spark._jvm.java.util.ArrayList(), schema)
