"""Streaming NEAR-dup ingest: continuous corpus dedup against the
persisted MinHash store.

The reference dedups by exact id only (ON CONFLICT DO NOTHING,
reference src/core/pg_engine.py:113); ``run_ingest_stream`` mirrors
that for entry ids. A training-data corpus additionally needs
CONTENT-level near-dup filtering at ingest time — and recomputing
pairs over the whole corpus per micro-batch is exactly what doesn't
scale. This pipeline composes the two streaming/dedup pieces the repo
already has:

  * file source + ``trigger(availableNow=True)`` + checkpoint
    (each input file is READ once, the O-24/O-35 posture), and
  * ``operators/dedup_store.incremental_pairs`` (new batch's band
    buckets joined against PERSISTED signatures — per-batch work is
    O(batch), independent of corpus size).

Dedup semantics per micro-batch:

  * exact-id first: ids already in the store are dropped up front
    (broadcast anti-join vs stored signature ids) — the reference's
    ON CONFLICT DO NOTHING applies across the WHOLE table, not per
    batch, so a same-id doc arriving in a later file must be dropped
    even though the near-dup join's ``id_a != id_b`` can never flag
    it;
  * then near-dup: docs that near-match a STORED doc are dropped; for
    near-dup pairs WITHIN the batch the smallest doc_id is kept
    (greedy min-id keeper — deterministic and order-free).

Survivors are appended to the output corpus AND their shingles +
signatures are appended to the store, so the next batch dedups
against them too.

Effectively-once side effects: ``foreachBatch`` is at-least-once (a
failed micro-batch is retried with the SAME epoch_id), so every write
goes to an epoch-keyed partition directory (``.../epoch=<n>``) in
``overwrite`` mode, and a retry first wipes any partial output of its
own epoch before recomputing — replays converge to exactly the same
files instead of appending duplicates. Store/corpus existence checks
go through the Hadoop FileSystem API, so non-local URIs (hdfs://,
s3a://) behave the same as local paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup_store import (
    commit_batch,
    incremental_pairs,
    update_clusters,
)
from ..operators.joins import bounded_anti_join
from ..session import drain
from ..sources.fs import fs_delete, fs_exists


def _epoch_dir(root: str, epoch_id: int) -> str:
    return f"{root}/epoch={epoch_id}"


def _read_clean(spark: SparkSession, root: str,
                schema: T.StructType) -> DataFrame:
    """Read the ``schema`` columns of an epoch-partitioned store table
    with that schema declared (no schema-inference job), projecting
    away the partition column so consumers see the flat schema."""
    return spark.read.schema(schema).parquet(root).select(*schema.names)


def run_neardup_ingest(spark: SparkSession, docs_path: str, out_root: str,
                       checkpoint: str, store_dest: str,
                       id_col: str = "doc_id", text_col: str = "text",
                       num_hashes: int = 16, bands: int = 4,
                       shingle_n: int = 3,
                       jaccard_threshold: float = 0.8) -> dict[str, int]:
    """Drain document parquet drops into a near-dup-free corpus.

    Returns {'kept': n, 'dropped': n}. Each input file is processed
    once via the checkpoint; epoch-keyed overwrite writes make the
    side effects idempotent under micro-batch retry. The store under
    ``store_dest`` is bootstrapped on the first batch and appended to
    afterwards.
    """
    from ..schemas import TPCH_SCHEMAS

    doc_schema = TPCH_SCHEMAS["documents"]
    counts = {"kept": 0, "dropped": 0}

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        # Retry safety: wipe any partial output THIS epoch left behind
        # before reading the store — otherwise the batch's own partial
        # store rows would make its docs "already stored".
        for root in (out_root + "/corpus", store_dest + "/shingles",
                     store_dest + "/signatures"):
            fs_delete(spark, _epoch_dir(root, epoch_id))

        batch = (batch.filter(F.length(F.trim(text_col)) > 0)
                 .dropDuplicates([id_col]).persist())  # full rows kept
        n_in = batch.count()
        if n_in == 0:
            batch.unpersist()
            return

        store_exists = fs_exists(spark, store_dest + "/signatures")
        if store_exists:
            # exact-id dedup vs the WHOLE store (reference
            # pg_engine.py ON CONFLICT semantics are table-wide),
            # bounded form (r08 VERDICT item 1): the store's id column
            # STREAMS through a semi-join against the broadcast batch
            # keys, then only the matched (<= batch-sized) set is
            # broadcast for the anti-join — no broadcast here scales
            # with store size (the old form shipped the entire stored
            # id set per micro-batch: OOM at 10^9+ stored ids)
            stored_ids = _read_clean(
                spark, store_dest + "/signatures",
                batch.select(id_col).schema)
            batch_new = bounded_anti_join(
                batch, stored_ids, id_col).persist()
            n_new = batch_new.count()
        else:
            batch_new, n_new = batch, n_in

        if n_new == 0:
            counts["dropped"] += n_in
            batch.unpersist()
            return

        if store_exists:
            pairs = incremental_pairs(
                batch_new, store_dest, id_col, text_col,
                num_hashes, bands, shingle_n, jaccard_threshold)
            new_ids = batch_new.select(F.col(id_col).alias("_nid"))
            # a pair side is "stored" iff it is not in this batch
            a_new = pairs.join(F.broadcast(new_ids),
                               pairs.id_a == F.col("_nid"), "left_semi")
            both_new = a_new.join(F.broadcast(new_ids),
                                  a_new.id_b == F.col("_nid"), "left_semi")
            vs_stored_b = pairs.join(F.broadcast(new_ids),
                                     pairs.id_a == F.col("_nid"), "left_anti")
            vs_stored_a = pairs.join(F.broadcast(new_ids),
                                     pairs.id_b == F.col("_nid"), "left_anti")
            drops = (
                both_new.select(F.col("id_b").alias("_drop"))   # keep min of in-batch pair
                .union(vs_stored_b.select(F.col("id_b").alias("_drop")))
                .union(vs_stored_a.select(F.col("id_a").alias("_drop")))
                .distinct()
            )
            survivors = batch_new.join(
                F.broadcast(drops), batch_new[id_col] == F.col("_drop"),
                "left_anti").persist()
        else:
            # bootstrap: in-batch dedup only (min-id keeper per pair)
            from ..operators.dedup import minhash_lsh_pairs
            pairs = minhash_lsh_pairs(batch_new, id_col, text_col, num_hashes,
                                      bands, shingle_n, jaccard_threshold,
                                      sort=False)
            drops = pairs.select(F.col("id_b").alias("_drop")).distinct()
            survivors = batch_new.join(
                F.broadcast(drops), batch_new[id_col] == F.col("_drop"),
                "left_anti").persist()

        n_kept = survivors.count()
        survivors.write.mode("overwrite").parquet(
            _epoch_dir(out_root + "/corpus", epoch_id))
        if n_kept:
            commit_batch(survivors, store_dest, epoch_id, id_col, text_col,
                         num_hashes, shingle_n)
        # counts update LAST: a crash before this point replays the
        # epoch and converges to the same files
        counts["kept"] += n_kept
        counts["dropped"] += n_in - n_kept
        survivors.unpersist()
        if store_exists:
            batch_new.unpersist()
        batch.unpersist()

    drain(spark.readStream.schema(doc_schema).parquet(docs_path),
          checkpoint, handle_batch)
    return counts


def run_cluster_maintained_ingest(spark: SparkSession, docs_path: str,
                                  out_root: str, checkpoint: str,
                                  store_dest: str, id_col: str = "doc_id",
                                  text_col: str = "text",
                                  num_hashes: int = 16, bands: int = 4,
                                  shingle_n: int = 3,
                                  jaccard_threshold: float = 0.5
                                  ) -> dict[str, int]:
    """KEEP-ALL streaming ingest with per-batch cluster maintenance —
    the other near-dup deployment shape (r07 VERDICT item 1): instead
    of dropping near-dups at the door (``run_neardup_ingest``), every
    doc lands in the corpus and the store, and the PERSISTED cluster
    stage is merged incrementally per micro-batch
    (``operators/dedup_store.update_clusters``), so
    ``resolve_from_store(store_dest)`` serves fresh canonical/replica
    verdicts at any moment — no full ``dedup_clusters`` recompute
    ever runs. Downstream consumers pick their own policy later
    (keep-best by quality, keep-first, per-cluster sampling) without
    having lost any replica.

    Per micro-batch: wipe own epoch partials (replay convergence) ->
    corpus epoch commit (its row count observed on the write; an
    empty batch removes its empty epoch directory and stops here) ->
    near-dup pairs of the batch vs (store ∪ batch) — or in-batch LSH
    pairs on the bootstrap batch — -> store epoch commit ->
    ``update_clusters``. At-least-once replay converges: epoch-keyed
    corpus/store/pair writes overwrite themselves, and a replayed
    ``update_clusters`` recomputes the same touched subgraph against
    the current resolved view, appending a value-identical overlay
    (dir growth bounded by ``compact_clusters``). Pair computation is
    deliberately ordered BEFORE this epoch's store commit; on a replay
    the store already holds the epoch's signatures, which is
    value-harmless (batch x own-stored-copy pairs normalize to the
    in-batch pair set, and same-id self-pairs are cut by the join).

    Returns ``{"ingested": n}``: the non-empty, id-distinct docs the
    drain committed to the corpus. Resolved clusters are read with
    ``load_clusters`` / ``resolve_from_store``; counting them here
    would cost jobs no caller needs."""
    from ..operators.dedup import minhash_lsh_pairs
    from ..schemas import TPCH_SCHEMAS

    doc_schema = TPCH_SCHEMAS["documents"]
    counts = {"ingested": 0}

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        for root in (out_root + "/corpus", store_dest + "/shingles",
                     store_dest + "/signatures"):
            fs_delete(spark, _epoch_dir(root, epoch_id))

        batch = (batch.filter(F.length(F.trim(text_col)) > 0)
                 .dropDuplicates([id_col]).persist())
        # the corpus commit goes first (the pair build never reads the
        # corpus) and counts the batch as it writes
        corpus_epoch = _epoch_dir(out_root + "/corpus", epoch_id)
        obs = Observation()
        (batch.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(corpus_epoch))
        n_in = int(obs.get["n"])
        if n_in == 0:
            fs_delete(spark, corpus_epoch)
            batch.unpersist()
            return

        if fs_exists(spark, store_dest + "/signatures"):
            pairs = incremental_pairs(
                batch, store_dest, id_col, text_col,
                num_hashes, bands, shingle_n, jaccard_threshold)
        else:
            pairs = minhash_lsh_pairs(batch, id_col, text_col, num_hashes,
                                      bands, shingle_n, jaccard_threshold,
                                      sort=False)
        # materialize the pair set BEFORE the store commit mutates the
        # directories the pair plan reads (lazy evaluation would
        # otherwise compute pairs against a store that already holds
        # this epoch — value-identical, but only by the replay
        # argument above; first attempts shouldn't lean on it)
        pairs = pairs.localCheckpoint(eager=True)

        commit_batch(batch, store_dest, epoch_id, id_col, text_col,
                     num_hashes, shingle_n)
        update_clusters(pairs, store_dest, epoch_id)
        counts["ingested"] += n_in
        batch.unpersist()

    drain(spark.readStream.schema(doc_schema).parquet(docs_path),
          checkpoint, handle_batch)
    return counts

