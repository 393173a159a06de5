"""Streaming near-dup ingest: content-level dedup against the
persisted MinHash store across micro-batch boundaries, exactly-once
per input file via the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.streaming.neardup import run_neardup_ingest
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_CORRECT


def _write_drop(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


def test_neardup_stream_dedups_across_batches(spark, tmp_path):
    docs_in = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")

    base = (load_table(spark, SF_CORRECT, "documents")
            .filter(F.col("doc_id") < 40))

    # batch 1: 40 distinct docs + one in-batch clone (id 1_000_000 of doc 0)
    clone_in_batch = (base.filter(F.col("doc_id") == 0)
                      .withColumn("doc_id", F.lit(1_000_000).cast("long")))
    _write_drop(base.unionByName(clone_in_batch), docs_in)
    c1 = run_neardup_ingest(spark, docs_in, out_root, ckpt, store)
    assert c1 == {"kept": 40, "dropped": 1}

    corpus_ids = {r.doc_id for r in
                  spark.read.parquet(out_root + "/corpus").collect()}
    assert 0 in corpus_ids and 1_000_000 not in corpus_ids

    # batch 2: a clone of a STORED doc (dropped), a fresh doc (kept),
    # and an in-batch clone pair (min id kept)
    fresh = (load_table(spark, SF_CORRECT, "documents")
             .filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 42)))
    clone_of_stored = (base.filter(F.col("doc_id") == 5)
                       .withColumn("doc_id", F.lit(2_000_000).cast("long")))
    clone_a = fresh.filter(F.col("doc_id") == 40).withColumn(
        "doc_id", F.lit(3_000_000).cast("long"))
    _write_drop(fresh.unionByName(clone_of_stored).unionByName(clone_a), docs_in)
    c2 = run_neardup_ingest(spark, docs_in, out_root, ckpt, store)
    assert c2 == {"kept": 2, "dropped": 2}, c2  # 40,41 kept; clones dropped

    corpus_ids = {r.doc_id for r in
                  spark.read.parquet(out_root + "/corpus").collect()}
    assert {40, 41} <= corpus_ids
    assert 2_000_000 not in corpus_ids and 3_000_000 not in corpus_ids

    # the store tracks exactly the surviving corpus
    sig_ids = {r.doc_id for r in
               spark.read.parquet(store + "/signatures").collect()}
    assert sig_ids == corpus_ids

    # exactly-once: a re-run with the same checkpoint ingests nothing
    c3 = run_neardup_ingest(spark, docs_in, out_root, ckpt, store)
    assert c3 == {"kept": 0, "dropped": 0}
    assert spark.read.parquet(out_root + "/corpus").count() == len(corpus_ids)


def test_neardup_stream_drops_stored_id_repeat(spark, tmp_path):
    """A doc whose id is ALREADY IN THE STORE arriving in a later file
    must be dropped (reference ON CONFLICT DO NOTHING is table-wide,
    not per-batch) — even though the near-dup join can never pair a
    doc with itself."""
    docs_in = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")

    base = (load_table(spark, SF_CORRECT, "documents")
            .filter(F.col("doc_id") < 10))
    _write_drop(base, docs_in)
    c1 = run_neardup_ingest(spark, docs_in, out_root, ckpt, store)
    assert c1 == {"kept": 10, "dropped": 0}

    # same ids again (identical rows) + one genuinely new doc
    fresh = (load_table(spark, SF_CORRECT, "documents")
             .filter(F.col("doc_id") == 50))
    _write_drop(base.unionByName(fresh), docs_in)
    c2 = run_neardup_ingest(spark, docs_in, out_root, ckpt, store)
    assert c2 == {"kept": 1, "dropped": 10}, c2

    corpus = spark.read.parquet(out_root + "/corpus")
    assert corpus.count() == 11  # no duplicated ids
    assert corpus.select("doc_id").distinct().count() == 11


def test_neardup_stream_retry_cleanup_is_idempotent(spark, tmp_path):
    """Epoch-keyed overwrite + pre-clean: stale partial output left by
    a failed attempt of the SAME epoch is wiped before reprocessing,
    so a replay converges instead of appending duplicates."""
    docs_in = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")

    base = (load_table(spark, SF_CORRECT, "documents")
            .filter(F.col("doc_id") < 5))
    _write_drop(base, docs_in)
    run_neardup_ingest(spark, docs_in, out_root, ckpt, store)

    # simulate a crashed attempt of the NEXT epoch (epoch 1): partial
    # junk rows in corpus and store under that epoch's directory
    junk = (load_table(spark, SF_CORRECT, "documents")
            .filter(F.col("doc_id") == 999)
            .withColumn("doc_id", F.lit(9_999_999).cast("long")))
    junk.write.mode("overwrite").parquet(out_root + "/corpus/epoch=1")
    from hackmd_data_pipeline_spark.operators.dedup import (
        hashed_shingle_table, minhash_signatures_from)
    jsh = hashed_shingle_table(junk)
    jsh.write.mode("overwrite").parquet(store + "/shingles/epoch=1")
    minhash_signatures_from(jsh).write.mode("overwrite").parquet(
        store + "/signatures/epoch=1")

    fresh = (load_table(spark, SF_CORRECT, "documents")
             .filter(F.col("doc_id") == 60))
    _write_drop(fresh, docs_in)
    c2 = run_neardup_ingest(spark, docs_in, out_root, ckpt, store)
    assert c2 == {"kept": 1, "dropped": 0}

    corpus_ids = {r.doc_id for r in
                  spark.read.parquet(out_root + "/corpus").collect()}
    assert 9_999_999 not in corpus_ids, "stale partial epoch must be wiped"
    assert corpus_ids == {0, 1, 2, 3, 4, 60}
    sig_ids = {r.doc_id for r in
               spark.read.parquet(store + "/signatures").collect()}
    assert sig_ids == corpus_ids


def test_cluster_maintained_ingest_resolve_never_stale(spark, tmp_path):
    """Keep-all ingest with per-batch cluster maintenance (r07 VERDICT
    item 1 at the streaming boundary): after EVERY drain — including a
    later drain resuming from the checkpoint — resolve_from_store must
    equal the from-scratch clustering of everything ingested so far,
    with no full recompute ever having run."""
    from hackmd_data_pipeline_spark.operators.dedup import (
        dedup_clusters, minhash_lsh_pairs)
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        resolve_from_store)
    from hackmd_data_pipeline_spark.streaming.neardup import (
        run_cluster_maintained_ingest)

    docs_in = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")

    base = (load_table(spark, SF_CORRECT, "documents")
            .filter(F.col("doc_id") < 40).select("doc_id", "text"))

    def resolve():
        return {(r.doc_id, r.cluster_id, r.is_canonical)
                for r in resolve_from_store(spark, store).collect()}

    def scratch(df):
        labels = dedup_clusters(
            minhash_lsh_pairs(df, jaccard_threshold=0.5, sort=False))
        return {(r.id, r.cluster_id, r.id == r.cluster_id)
                for r in labels.collect()}

    # drain 1: base docs + an in-batch clone (forms one cluster)
    clone1 = (base.filter(F.col("doc_id") == 0)
              .withColumn("doc_id", F.lit(1_000_000).cast("long")))
    _write_drop(base.unionByName(clone1), docs_in)
    c1 = run_cluster_maintained_ingest(spark, docs_in, out_root, ckpt, store)
    assert c1["ingested"] == 41
    ingested = base.unionByName(clone1)
    assert resolve() == scratch(ingested)
    assert (0, 0, True) in resolve() and (1_000_000, 0, False) in resolve()

    # drain 2 (resumes from the checkpoint, later epoch ids): a clone
    # of a STORED doc must merge into the stored doc's cluster, fresh
    # docs join as singletons-or-clusters per content
    fresh = (load_table(spark, SF_CORRECT, "documents")
             .filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 45))
             .select("doc_id", "text"))
    clone2 = (base.filter(F.col("doc_id") == 5)
              .withColumn("doc_id", F.lit(2_000_000).cast("long")))
    _write_drop(fresh.unionByName(clone2), docs_in)
    c2 = run_cluster_maintained_ingest(spark, docs_in, out_root, ckpt, store)
    assert c2["ingested"] == 6
    ingested = ingested.unionByName(fresh).unionByName(clone2)
    assert resolve() == scratch(ingested), "resolution went stale"
    assert (2_000_000, 5, False) in resolve()

    # keep-all: nothing was dropped from the corpus
    assert spark.read.parquet(out_root + "/corpus").count() == 47

    # exactly-once: re-drain with the same checkpoint ingests nothing
    # and the resolution is unchanged
    before = resolve()
    c3 = run_cluster_maintained_ingest(spark, docs_in, out_root, ckpt, store)
    assert c3["ingested"] == 0
    assert resolve() == before


def test_cluster_maintained_ingest_empty_batch_leaves_no_epoch(spark,
                                                              tmp_path):
    """The corpus commit counts the batch as it writes; a batch with no
    non-blank doc ingests nothing and removes its empty corpus epoch
    directory, so the corpus and the store stay as they were."""
    import os

    from hackmd_data_pipeline_spark.streaming.neardup import (
        run_cluster_maintained_ingest)

    docs_in, out_root = str(tmp_path / "in"), str(tmp_path / "out")
    blank = (load_table(spark, SF_CORRECT, "documents")
             .filter(F.col("doc_id") < 3).withColumn("text", F.lit("  ")))
    _write_drop(blank, docs_in)
    got = run_cluster_maintained_ingest(spark, docs_in, out_root,
                                        str(tmp_path / "ckpt"),
                                        str(tmp_path / "store"))
    assert got == {"ingested": 0}
    assert not os.path.exists(out_root + "/corpus/epoch=0")
    assert not os.path.exists(str(tmp_path / "store"))
