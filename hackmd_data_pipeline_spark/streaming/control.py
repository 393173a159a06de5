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
  * the claim race disappears: Spark owns all parallelism, so claim =
    filter + order + limit on a single driver (plans/control.py), and
    the streaming path gets exactly-once file claiming from the
    Structured Streaming checkpoint instead (pipeline.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ControlTable:
    """A small, whole-rewritten state table with generation flips.

    Layout: ``{root}/gen={n}/`` parquet + ``{root}/_CURRENT`` pointer.
    Readers read the pointed generation; writers write gen n+1 then
    rename a temp pointer over _CURRENT (atomic on POSIX).
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

    def read(self) -> DataFrame:
        """The current generation typed by exactly ``self.schema`` on
        both branches. A file-source read types every column nullable,
        so the (tiny, by design) generation is collected JVM-side and
        re-declared as a local relation — an eager snapshot that a
        later generation GC cannot pull out from under the reader."""
        from ..session import empty_local_df, jvm_local_df

        gen = self.current_gen()
        if gen < 0:
            return empty_local_df(self.spark, self.schema)
        rows = (self.spark.read.schema(self.schema)
                .parquet(os.path.join(self.root, f"gen={gen}"))
                ._jdf.collectAsList())
        return jvm_local_df(self.spark, rows, self.schema)

    def write(self, df: DataFrame) -> int:
        gen = self.current_gen() + 1
        path = os.path.join(self.root, f"gen={gen}")
        df.coalesce(1).write.mode("overwrite").parquet(path)
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
    table.write(updated.select(*[f.name for f in table.schema.fields]))
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
    table.write(updated.select(*[f.name for f in table.schema.fields]))
