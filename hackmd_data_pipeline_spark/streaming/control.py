"""Control-plane state (SURVEY.md §2.E / §7 Phase 3).

The reference keeps its pipeline state machine in Postgres tables
mutated by row-locking UPDATEs (raw_batches etc., reference
create_table.sql:8-50; claim via FOR UPDATE SKIP LOCKED,
arxiv_etl.py:42-57). Vanilla Spark has no row locks and no in-place
UPDATE, and doesn't need them:

  * control tables are tiny (file-level granularity) -> keep them as
    Parquet directories rewritten wholesale, versioned by generation
    (write new generation, then flip a pointer file — atomic on a
    filesystem with atomic rename; analogous to a 1-row commit log).
  * the generation file is written and read by the DRIVER as an
    Arrow table (``pyarrow.parquet``; read back as Arrow or a local
    relation): neither a flip nor a read costs a Spark job — where a
    Spark parquet write and a collect each cost a job of their own.
  * the claim race disappears: Spark owns all parallelism, so claim =
    filter + order + limit on a single driver (plans/control.py), and
    the streaming path gets exactly-once file claiming from the
    Structured Streaming checkpoint instead (pipeline.py).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..session import empty_local_df


class ControlTable:
    """A small, whole-rewritten state table with generation flips.

    Layout: ``{root}/gen={n}/part-00000.parquet`` + ``{root}/_CURRENT``
    pointer. Readers read the pointed generation; writers write gen n+1
    then rename a temp pointer over _CURRENT (atomic on POSIX). The
    driver writes and reads a generation as Arrow, with no Spark job,
    so ``root`` must be a local path (the pointer flip assumes one).
    """

    def __init__(self, spark: SparkSession, root: str, schema: T.StructType):
        self.spark = spark
        self.root = root
        self.schema = schema
        os.makedirs(root, exist_ok=True)

    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def current_gen(self) -> int:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def table(self) -> pa.Table:
        """The current generation as an Arrow table of the declared
        schema (empty without one). Spark-written generations' INT96
        instants, which Arrow reads tz-naive, come back as UTC."""
        schema = to_arrow_schema(self.schema)
        gen = self.current_gen()
        if gen < 0:
            return schema.empty_table()
        return pq.read_table(os.path.join(self.root, f"gen={gen}"),
                             schema=schema)

    def read(self) -> DataFrame:
        """The current generation as a local relation typed by exactly
        ``self.schema`` (nullability included), built without a Spark
        job. An eager snapshot: a later generation GC cannot pull it
        out from under the reader."""
        if self.current_gen() < 0:
            return empty_local_df(self.spark, self.schema)
        return self.spark.createDataFrame(self.table(), self.schema)

    def write(self, table: pa.Table) -> int:
        """Write ``table``'s declared columns, cast to the declared
        schema, as the next generation. DataFrame callers pass
        ``df.toArrow()``."""
        table = (table.select([f.name for f in self.schema.fields])
                 .cast(to_arrow_schema(self.schema)))
        gen = self.current_gen() + 1
        path = os.path.join(self.root, f"gen={gen}")
        # a crash between this write and the flip leaves gen n+1
        # unreferenced; the retry starts it over
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                       store_schema=False)
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(gen))
        os.replace(tmp, self._pointer())  # atomic flip
        # GC generations older than the previous one (keep 1 for readers)
        for name in os.listdir(self.root):
            if name.startswith("gen=") and int(name.split("=")[1]) < gen - 1:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        return gen


def claim_pending(table: ControlTable, n: int,
                  status_col: str = "etl_status",
                  key_col: str = "batch_id") -> DataFrame:
    """O-24 batch claim: take the n oldest pending rows and flip them to
    'processing' in one generation write. Returns the claimed rows.

    Single-writer by construction (the driver is the only mutator), so
    the SKIP LOCKED race the reference guards against cannot occur."""
    cur = table.read()
    claimed_keys = (
        cur.filter(F.col(status_col) == "pending")
        .orderBy(key_col).limit(n).select(key_col)
        .withColumn("_claimed", F.lit(True))
    )
    updated = (
        cur.join(F.broadcast(claimed_keys), key_col, "left")
        .withColumn(
            status_col,
            F.when(F.col("_claimed"), "processing").otherwise(F.col(status_col)),
        )
        .withColumn(
            "etl_started_at",
            F.when(F.col("_claimed"), F.current_timestamp().cast("timestamp"))
            .otherwise(F.col("etl_started_at")),
        )
        .drop("_claimed")
    )
    table.write(updated.toArrow())
    return table.read().join(F.broadcast(claimed_keys.select(key_col)), key_col, "left_semi")


def mark_status(table: ControlTable, keys: list[str], status: str,
                error_msg: str | None = None,
                status_col: str = "etl_status",
                key_col: str = "batch_id") -> None:
    """O-25/O-26 keyed status update with COALESCE-preserve semantics
    (reference arxiv_etl.py:126-136): finished/failed + timestamps,
    error message only on failure."""
    cur = table.read()
    hit = F.col(key_col).isin(keys)
    updated = (
        cur.withColumn(status_col, F.when(hit, status).otherwise(F.col(status_col)))
        .withColumn(
            "etl_finished_at",
            F.when(hit & F.lit(status in ("finished", "failed")),
                   F.current_timestamp().cast("timestamp"))
            .otherwise(F.col("etl_finished_at")),
        )
        .withColumn(
            "error_msg",
            F.when(hit, F.lit(error_msg)).otherwise(F.col("error_msg")),
        )
    )
    table.write(updated.toArrow())
