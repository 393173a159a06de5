"""Public engine facade — the reference's query entry points, Spark-first.

The reference exposes exactly two query surfaces (SURVEY.md §3.3):
literal SQL strings executed by PostgreSQL through a thin psycopg2
wrapper (reference src/core/pg_engine.py:56-122), and Python-side row
pipelines. Here both collapse into one object:

  * ``Engine.sql(text)`` — ANSI SQL over the canonical tables,
    registered as temp views; parsing/optimization/execution belong to
    Catalyst exactly as they belonged to PostgreSQL.
  * ``Engine.query(name)`` — every named operator from the registry
    (SURVEY.md §2 inventory + north-star extensions) as a DataFrame.

Unlike pg_engine's connection-per-statement teardown (pg_engine.py:
77,99,122), the SparkSession is long-lived by design; statement-level
atomicity maps to Spark's job-level output commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .plans import REGISTRY
from .tables import DEFAULT_SF_DIR, load_tables


class Engine:
    """One SparkSession + one data root = one queryable engine."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self.tables = load_tables(spark, sf_dir)  # registers temp views

    def sql(self, text: str) -> DataFrame:
        """Run ANSI SQL against the registered table views (the
        reference's execute_query surface, minus the DB-API plumbing)."""
        return self.spark.sql(text)

    def query(self, name: str) -> DataFrame:
        """Run a registered named operator (SURVEY.md §2 id families)."""
        return REGISTRY[name].builder(self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        return sorted(REGISTRY)

    def explain(self, name: str, mode: str = "formatted") -> str:
        """Formatted physical plan of a named query — the
        plan-inspection surface scripts/plan_audit.py builds on."""
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.query(name).explain(mode)
        return buf.getvalue()

    # ----- corpus-maintenance surfaces (operators with state on disk)

    def build_dedup_store(self, dest: str, **kwargs) -> None:
        """Materialize the MinHash dedup artifact chain for the
        documents table (operators/dedup_store.py)."""
        from .operators.dedup_store import build_dedup_store
        build_dedup_store(self.tables["documents"], dest, **kwargs)

    def dedup_new_batch(self, new_docs: DataFrame, store_dest: str,
                        **kwargs) -> DataFrame:
        """Near-dup pairs of a new batch vs a built store + itself."""
        from .operators.dedup_store import incremental_pairs
        return incremental_pairs(new_docs, store_dest, **kwargs)

    def build_ann_index(self, dest: str, **kwargs) -> None:
        """Persist the cell-partitioned IVF index for embeddings."""
        from .operators.similarity import build_ivf_index
        build_ivf_index(self.tables["embeddings"], dest, **kwargs)

    def write_zordered(self, df: DataFrame, dest: str,
                       cols: list[str], **kwargs) -> None:
        """Write a DataFrame clustered on a Morton curve of ``cols``."""
        from .operators.zorder import write_zordered
        write_zordered(df, dest, cols, **kwargs)

    def semdedup(self, **kwargs) -> DataFrame:
        """SemDeDup keep/drop verdicts for the embeddings table
        (operators/similarity.py::semdedup)."""
        from .operators.similarity import semdedup
        return semdedup(self.tables["embeddings"], **kwargs)

    def pagerank(self, pairs: DataFrame, **kwargs) -> DataFrame:
        """PageRank over any (id_a, id_b) pair table
        (operators/graph.py)."""
        from .operators.graph import pagerank
        return pagerank(pairs, **kwargs)

    def append_rollup_delta(self, batch: DataFrame, dest: str,
                            epoch_id: int, **kwargs) -> None:
        """Replay-proof rollup maintenance: epoch-keyed delta write
        (operators/rollup.py delta-epoch layout)."""
        from .operators.rollup import append_rollup_delta
        append_rollup_delta(batch, dest, epoch_id, **kwargs)

    def read_rollup(self, dest: str, **kwargs) -> DataFrame:
        """Merged view over a delta-epoch rollup store."""
        from .operators.rollup import read_rollup
        return read_rollup(self.spark, dest, **kwargs)

    def compact_rollup(self, dest: str, **kwargs) -> dict:
        """Fold pending rollup deltas into a new generation."""
        from .operators.rollup import compact_rollup
        return compact_rollup(self.spark, dest, **kwargs)

    def retention_sweep(self, path: str, partition_col: str,
                        keep_from: str) -> dict:
        """Drop value-partitions below the cutoff (partition-scoped
        DELETE)."""
        from .operators.maintenance import retention_sweep
        return retention_sweep(self.spark, path, partition_col, keep_from)

    def knn_join(self, index_path: str, queries: DataFrame,
                 **kwargs) -> DataFrame:
        """kNN join of any (query_id, embedding) batch through a
        persisted IVF index — query batches of any size (the probe is
        size-gated: bounded batches broadcast, unbounded ones stay
        distributed)."""
        from .operators.similarity import ivf_search_index
        return ivf_search_index(self.spark, index_path, queries, **kwargs)

    def decontaminate_ann(self, index_path: str, benchmark: DataFrame,
                          threshold: float = 0.98, k: int = 10,
                          **kwargs) -> DataFrame:
        """Retrieval-based decontamination: kNN-join benchmark
        embeddings through a persisted train-corpus index and flag
        train neighbors at/above the cosine threshold. Returns
        (query_id, vec_id, cosine, rank) of flagged pairs."""
        from pyspark.sql import functions as F
        from .operators.similarity import ivf_search_index
        hits = ivf_search_index(self.spark, index_path, benchmark,
                                k=k, **kwargs)
        return hits.filter(F.col("cosine") >= F.lit(threshold))

    def jdbc_stream_sink(self, url: str, table: str, **kwargs):
        """The exactly-once streaming JDBC sink's foreachBatch handle
        (sources/jdbc.py::jdbc_exactly_once_sink)."""
        from .sources.jdbc import jdbc_exactly_once_sink
        return jdbc_exactly_once_sink(url, table, **kwargs)
