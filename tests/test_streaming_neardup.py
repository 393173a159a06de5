"""Streaming near-dup ingest: content-level dedup against the
persisted MinHash store across micro-batch boundaries, exactly-once
per input file via the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.streaming.neardup import run_neardup_ingest
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_CORRECT, local_df


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


def _tok(tag, n):
    return " ".join(f"{tag}{j}" for j in range(n))


def _doc(template, did, text):
    return (template.withColumn("doc_id", F.lit(did).cast("long"))
            .withColumn("text", F.lit(text)))


def test_span_ingest_stream_drops_verbatim_leaks(spark, tmp_path):
    """Streaming exact-substring ingest (r09): a doc that mostly
    verbatim-quotes already-ingested text is dropped at the door
    (dup_fraction > threshold), cross-epoch quotes are caught against
    the persisted span store, DROPPED docs never poison the store,
    short docs pass, repeated ids skip via the bounded id ledger, and
    the checkpoint makes re-drains no-ops."""
    from hackmd_data_pipeline_spark.streaming.neardup import run_span_ingest

    docs_in = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "spanstore")
    tpl = (load_table(spark, SF_CORRECT, "documents")
           .filter(F.col("doc_id") == 0).limit(1))

    A = _tok("a", 30)
    B = _tok("b", 30)
    drop1 = _doc(tpl, 1, A).unionByName(_doc(tpl, 2, B))
    _write_drop(drop1, docs_in)
    c1 = run_span_ingest(spark, docs_in, out_root, ckpt, store, k=8,
                         max_dup_fraction=0.5)
    assert c1 == {"kept": 2, "dropped_dup": 0, "skipped_ids": 0, "skipped_tombstoned": 0}

    a_toks, b_toks = A.split(), B.split()
    C = " ".join(a_toks[:16] + [f"c{j}" for j in range(14)])   # 16/30 > 0.5
    D = " ".join(b_toks[:8] + [f"d{j}" for j in range(22)])    # 8/30 <= 0.5
    E_repeat_id = _doc(tpl, 1, _tok("e", 30))                  # id 1 again
    S = "one two three"                                        # < k tokens
    drop2 = (_doc(tpl, 3, C).unionByName(_doc(tpl, 4, D))
             .unionByName(E_repeat_id)
             .unionByName(_doc(tpl, 6, _tok("f", 30)))
             .unionByName(_doc(tpl, 9, S)))
    _write_drop(drop2, docs_in)
    c2 = run_span_ingest(spark, docs_in, out_root, ckpt, store, k=8,
                         max_dup_fraction=0.5)
    assert c2 == {"kept": 3, "dropped_dup": 1, "skipped_ids": 1, "skipped_tombstoned": 0}
    corpus_ids = {r.doc_id for r in
                  spark.read.parquet(out_root + "/corpus")
                  .select("doc_id").collect()}
    assert corpus_ids == {1, 2, 4, 6, 9}

    # epoch 3: G quotes F (committed LAST epoch -> caught cross-epoch);
    # H quotes only the unique tail of the DROPPED doc C -> C's spans
    # never entered the store, so H is kept
    G = " ".join(_tok("f", 30).split()[:16] + [f"g{j}" for j in range(14)])
    H = " ".join([f"c{j}" for j in range(14)] + [f"h{j}" for j in range(16)])
    _write_drop(_doc(tpl, 7, G).unionByName(_doc(tpl, 8, H)), docs_in)
    c3 = run_span_ingest(spark, docs_in, out_root, ckpt, store, k=8,
                         max_dup_fraction=0.5)
    assert c3 == {"kept": 1, "dropped_dup": 1, "skipped_ids": 0, "skipped_tombstoned": 0}
    corpus_ids = {r.doc_id for r in
                  spark.read.parquet(out_root + "/corpus")
                  .select("doc_id").collect()}
    assert 8 in corpus_ids and 7 not in corpus_ids

    # checkpointed re-drain: nothing to do
    c4 = run_span_ingest(spark, docs_in, out_root, ckpt, store, k=8,
                         max_dup_fraction=0.5)
    assert c4 == {"kept": 0, "dropped_dup": 0, "skipped_ids": 0, "skipped_tombstoned": 0}


def test_span_ingest_store_compacts_with_ledger(spark, tmp_path):
    """compact_store folds a span-ingest store (spans + docs ledger)
    into one generation, and the stream continues against the folded
    store WITHOUT re-admitting already-ingested ids (the ledger
    survives compaction)."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        compact_store)
    from hackmd_data_pipeline_spark.streaming.neardup import run_span_ingest

    docs_in = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    store = str(tmp_path / "spanstore")
    tpl = (load_table(spark, SF_CORRECT, "documents")
           .filter(F.col("doc_id") == 0).limit(1))
    for i, did in enumerate((1, 2)):
        _write_drop(_doc(tpl, did, _tok(f"t{did}_", 30)), docs_in)
        run_span_ingest(spark, docs_in, out_root,
                        str(tmp_path / "ckpt"), store, k=8)

    folded = str(tmp_path / "folded")
    stats = compact_store(spark, store, folded)
    assert "spans" in stats and "docs" in stats
    ledger = spark.read.parquet(folded + "/docs")
    assert {r.doc_id for r in ledger.select("doc_id").collect()} == {1, 2}

    # fresh checkpoint over the folded store: replayed drops skip via
    # the compacted ledger; a quoting doc is still caught
    leak = " ".join(_tok("t1_", 30).split()[:16] + ["z%d" % j
                                                    for j in range(14)])
    _write_drop(_doc(tpl, 5, leak), docs_in)
    c = run_span_ingest(spark, docs_in, out_root + "2",
                        str(tmp_path / "ckpt2"), folded, k=8,
                        max_dup_fraction=0.5)
    assert c == {"kept": 0, "dropped_dup": 1, "skipped_ids": 2, "skipped_tombstoned": 0}


def test_span_ingest_deleted_id_policy_across_compaction(spark, tmp_path):
    """r09 ADVICE: the deleted-id lifecycle is documented and
    OBSERVABLE — a remove_docs-tombstoned id re-submitted before
    compaction is skipped (counted as skipped_tombstoned, not folded
    into the ordinary duplicate-skip count) and its spans stay out of
    witness duty; after compact_store physically separates the
    generations, the same id is admissible as a fresh doc."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        compact_store, remove_docs)
    from hackmd_data_pipeline_spark.streaming.neardup import run_span_ingest

    docs_in = str(tmp_path / "in")
    out_root = str(tmp_path / "out")
    store = str(tmp_path / "spanstore")
    tpl = (load_table(spark, SF_CORRECT, "documents")
           .filter(F.col("doc_id") == 0).limit(1))

    _write_drop(_doc(tpl, 1, _tok("a", 30)).unionByName(
        _doc(tpl, 2, _tok("b", 30))), docs_in)
    c1 = run_span_ingest(spark, docs_in, out_root,
                         str(tmp_path / "ckpt"), store, k=8)
    assert c1["kept"] == 2

    # right-to-be-forgotten on doc 1 (pairless store: tombstone-only)
    remove_docs(local_df(spark, [(1,)], "id long"), store)

    # re-submission BEFORE compaction: skipped, and visibly so
    _write_drop(_doc(tpl, 1, _tok("n", 30)), docs_in)
    c2 = run_span_ingest(spark, docs_in, out_root,
                         str(tmp_path / "ckpt"), store, k=8)
    assert c2 == {"kept": 0, "dropped_dup": 0, "skipped_ids": 1,
                  "skipped_tombstoned": 1}

    # after compaction the ledger row and tombstone are physically
    # gone: the same id is fresh again
    folded = str(tmp_path / "folded")
    compact_store(spark, store, folded)
    assert {r.doc_id for r in spark.read.parquet(folded + "/docs")
            .select("doc_id").collect()} == {2}
    _write_drop(_doc(tpl, 1, _tok("p", 30)), docs_in)
    c3 = run_span_ingest(spark, docs_in, out_root + "2",
                         str(tmp_path / "ckpt2"), folded, k=8)
    # the fresh checkpoint replays all drops: doc 2 skips via the
    # compacted ledger, the re-used id 1 is ADMITTED as a fresh doc
    assert c3["skipped_tombstoned"] == 0
    assert c3["kept"] >= 1
    kept_ids = {r.doc_id for r in
                spark.read.parquet(out_root + "2/corpus")
                .select("doc_id").collect()}
    assert 1 in kept_ids
