"""JDBC relational edge (O-5/O-6 parity, behind a flag).

The reference moves rows in and out of Postgres with psycopg2: batched
multi-row INSERT ... ON CONFLICT DO NOTHING (reference
src/core/pg_engine.py:102-122, ``insert_mogrify``) and cursor reads
(pg_engine.py:80-100). Spark's native counterpart is the JDBC data
source — these wrappers pin the options that matter at scale:

  * read: ``partitionColumn/lowerBound/upperBound/numPartitions`` so
    the scan is N parallel range queries, not one cursor; ``fetchsize``
    so each executor streams rows instead of buffering the result set.
  * write: ``batchsize`` (the JDBC analog of the reference's
    execute_values batching), ``isolationLevel`` READ_COMMITTED,
    ``truncate`` to keep overwrite from dropping indexes.

Conflict-ignore (the reference's ON CONFLICT DO NOTHING) is NOT a
JDBC-write option: the engine's idempotent path is the anti-join
before append that streaming/pipeline.py runs on the parquet store.

Tested live in-container against Derby embedded (the JDBC database
Spark itself ships for the Hive metastore — org.apache.derby.jdbc.
EmbeddedDriver is on every session's classpath), covering the banded
parallel read, batched append, and truncate-overwrite paths
(tests/test_jdbc.py). The Postgres round-trip additionally runs when
SPARK_GRAFT_JDBC_URL points at a live server.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def read_jdbc(spark: SparkSession, url: str, table: str,
              partition_column: str | None = None,
              lower_bound: int | None = None,
              upper_bound: int | None = None,
              num_partitions: int = 8,
              fetchsize: int = 10_000,
              **options: str) -> DataFrame:
    """Parallel JDBC range scan.

    With ``partition_column`` + bounds the read issues
    ``num_partitions`` WHERE-banded queries in parallel — the only
    JDBC read shape that scales; without them Spark uses ONE
    connection, which is only acceptable for dimension-sized tables.
    """
    reader = (spark.read.format("jdbc")
              .option("url", url)
              .option("dbtable", table)
              .option("fetchsize", str(fetchsize)))
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound and upper_bound")
        reader = (reader
                  .option("partitionColumn", partition_column)
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound))
                  .option("numPartitions", str(num_partitions)))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(df: DataFrame, url: str, table: str,
               mode: str = "append", batchsize: int = 1_000,
               truncate: bool = True, **options: str) -> None:
    """Batched JDBC write — ``batchsize`` rows per round-trip, the
    JDBC analog of the reference's execute_values multi-row INSERT
    (pg_engine.py:102-122). ``mode='overwrite'`` with ``truncate``
    TRUNCATEs instead of DROP+CREATE so indexes and grants survive."""
    writer = (df.write.format("jdbc")
              .option("url", url)
              .option("dbtable", table)
              .option("batchsize", str(batchsize))
              .option("isolationLevel", "READ_COMMITTED")
              .option("truncate", "true" if truncate else "false")
              .mode(mode))
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


_IDENT = re.compile(r"[A-Za-z][A-Za-z0-9_]*\Z")

EPOCH_COL = "graft_epoch"


def _jdbc_conn(spark: SparkSession, url: str, driver: str | None):
    """One driver-side JDBC connection through the session's JVM (the
    same classpath the executors' JDBC writes use — Derby embedded and
    every server driver Spark can reach are reachable here too)."""
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    return jvm.java.sql.DriverManager.getConnection(url)


def _exec_ignore_exists(conn, sql: str) -> None:
    st = conn.createStatement()
    try:
        st.execute(sql)
    except Exception as e:  # noqa: BLE001 — py4j wraps SQLException
        # Derby X0Y32 / Postgres 42P07: the object already exists —
        # the CREATE is a converging bootstrap, not a claim
        msg = str(e)
        if "X0Y32" not in msg and "already exists" not in msg:
            raise
    finally:
        st.close()


def jdbc_exactly_once_sink(url: str, table: str,
                           driver: str | None = None,
                           batchsize: int = 1_000):
    """EXACTLY-ONCE streaming JDBC sink — the ``foreachBatch`` handle
    completing O-5's relational story (reference pg_engine.py:113
    ``ON CONFLICT DO NOTHING`` + the collector's batch discipline,
    re-expressed as the stage-then-publish committer every other sink
    in this repo uses):

      1. If the epoch is in the sink's LEDGER table, the whole batch
         is a replay — return without touching anything (the
         effectively-once convergence checkpointed streams need).
      2. The batch lands DISTRIBUTED (Spark's batched JDBC write,
         executors in parallel) in a staging table, stamped with the
         epoch — overwrite, so a crashed attempt's partial stage
         re-converges on replay instead of appending.
      3. ONE driver-side transaction publishes: DELETE any rows a
         previously-crashed publish of this epoch left in the target
         (belt and braces — the txn makes this impossible, but a
         non-transactional engine degrades to at-least-once-then-
         converge), INSERT the stage into the target, INSERT the
         ledger row, COMMIT. Data and ledger commit ATOMICALLY, which
         is what makes the sink exactly-once rather than idempotent-
         per-row: no key assumptions about the payload at all.

    Supported regime: single writer per (table, stream checkpoint) —
    epoch ids are the checkpoint's, and the shared staging table is
    per-target (the generation-manifest discipline, stated not
    assumed). Works against any JDBC engine with transactions;
    exercised live against Derby embedded in tests/test_jdbc.py."""
    for name in (table,):
        if not _IDENT.match(name):
            raise ValueError(f"unsafe identifier: {name!r}")
    ledger = f"{table}_ledger"
    stage = f"{table}_stage"

    def handle(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        epoch = int(epoch_id)
        spark = batch.sparkSession
        conn = _jdbc_conn(spark, url, driver)
        try:
            conn.setAutoCommit(True)
            _exec_ignore_exists(
                conn, f"CREATE TABLE {ledger} (epoch BIGINT PRIMARY KEY)")
            st = conn.createStatement()
            rs = st.executeQuery(
                f"SELECT 1 FROM {ledger} WHERE epoch = {epoch}")
            done = rs.next()
            rs.close()
            st.close()
            if done:
                return
            staged = batch.withColumn(EPOCH_COL,
                                      F.lit(epoch).cast("long"))
            write_jdbc(staged, url, stage, mode="overwrite",
                       batchsize=batchsize, truncate=False,
                       **({"driver": driver} if driver else {}))
            _exec_ignore_exists(
                conn,
                f"CREATE TABLE {table} AS SELECT * FROM {stage} "
                "WITH NO DATA")
            conn.setAutoCommit(False)
            st = conn.createStatement()
            # Spark's JDBC DDL quotes column names case-sensitively,
            # so the epoch column must be quoted here too
            st.executeUpdate(
                f'DELETE FROM {table} WHERE "{EPOCH_COL}" = {epoch}')
            st.executeUpdate(f"INSERT INTO {table} SELECT * FROM {stage}")
            st.executeUpdate(f"INSERT INTO {ledger} VALUES ({epoch})")
            conn.commit()
            st.close()
        finally:
            conn.close()

    return handle
