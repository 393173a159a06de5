"""Persisted dedup-artifact store: the stored chain must agree with the
in-session fused pipeline, stage by stage, and resolution from the
store must equal the ad-hoc dedup_cluster_resolve result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.dedup import (
    dedup_clusters,
    minhash_lsh_pairs,
)
from hackmd_data_pipeline_spark.operators.dedup_store import (
    build_dedup_store,
    incremental_pairs,
    incremental_spans,
    load_clusters,
    load_pairs,
    load_tombstones,
    resolve_from_store,
)
from hackmd_data_pipeline_spark.sources.fs import read_parquet
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_CORRECT, local_df


def test_store_matches_adhoc_pipeline(spark, tmp_path):
    dest = str(tmp_path / "dedup_store")
    d = load_table(spark, SF_CORRECT, "documents").limit(300)
    build_dedup_store(d, dest, jaccard_threshold=0.5)

    stored_pairs = sorted(
        (r.id_a, r.id_b, r.jaccard) for r in load_pairs(spark, dest).collect())
    adhoc_pairs = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(d, jaccard_threshold=0.5).collect())
    assert stored_pairs == adhoc_pairs

    stored_clusters = {(r.id, r.cluster_id)
                       for r in load_clusters(spark, dest).collect()}
    adhoc_clusters = {(r.id, r.cluster_id)
                      for r in dedup_clusters(
                          minhash_lsh_pairs(d, jaccard_threshold=0.5, sort=False)
                      ).collect()}
    assert stored_clusters == adhoc_clusters


def test_resolve_from_store_shape(spark, tmp_path):
    dest = str(tmp_path / "dedup_store")
    d = load_table(spark, SF_CORRECT, "documents").limit(200)
    # clone 3 docs -> 3 guaranteed duplicate clusters
    clones = d.limit(3).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    build_dedup_store(d.select("doc_id", "text").union(clones), dest,
                      jaccard_threshold=0.9)

    res = resolve_from_store(spark, dest)
    rows = res.collect()
    assert rows, "clones must produce clusters"
    assert set(res.columns) == {"doc_id", "cluster_id", "is_canonical"}
    # exactly one canonical per cluster, and it is the cluster min id
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        canon = [m for m in members if m.is_canonical]
        assert len(canon) == 1 and canon[0].doc_id == cid
        assert cid == min(m.doc_id for m in members)


def test_store_rebuild_is_stable(spark, tmp_path):
    """Rebuilding into the same dest must reproduce identical rows —
    the artifact contract a downstream incremental consumer relies on."""
    dest = str(tmp_path / "dedup_store")
    d = load_table(spark, SF_CORRECT, "documents").limit(150)
    build_dedup_store(d, dest, jaccard_threshold=0.5)
    first = sorted(tuple(r) for r in load_pairs(spark, dest).collect())
    build_dedup_store(d, dest, jaccard_threshold=0.5)
    second = sorted(tuple(r) for r in load_pairs(spark, dest).collect())
    assert first == second


def test_store_build_resumes_from_completed_stage(spark, tmp_path):
    """A re-call with the same dest must SKIP committed stages (the
    resume contract): the shingle stage's files are untouched by the
    second build, while a force build rewrites them."""
    import os

    dest = str(tmp_path / "dedup_store")
    d = load_table(spark, SF_CORRECT, "documents").limit(100)
    build_dedup_store(d, dest, jaccard_threshold=0.5)

    def stage_sig(stage):
        root = f"{dest}/{stage}"
        return sorted((f, os.path.getmtime(os.path.join(root, f)))
                      for f in os.listdir(root) if f.endswith(".parquet"))

    before = stage_sig("shingles")
    build_dedup_store(d, dest, jaccard_threshold=0.5)  # resume: all skip
    assert stage_sig("shingles") == before, "resume must not rewrite"

    build_dedup_store(d, dest, jaccard_threshold=0.5, force=True)
    assert stage_sig("shingles") != before, "force must rebuild"


@pytest.mark.parametrize("caller", ["build_dedup_store", "commit_batch"])
def test_failed_shingle_write_commits_neither_table(spark, tmp_path,
                                                    monkeypatch, caller):
    """Shingles and signatures commit as one stage: when the shingle
    write fails, no ``_SUCCESS`` is left under either table, so a
    resume on a DIFFERENT input rebuilds both, and the signatures are
    exactly the MinHash of the shingles beside them."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from hackmd_data_pipeline_spark.operators.dedup import (
        minhash_signatures_from)
    from hackmd_data_pipeline_spark.operators.dedup_store import commit_batch

    dest = str(tmp_path / "store")
    d = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    if caller == "build_dedup_store":
        def build(df):
            build_dedup_store(df, dest, through="signatures")
        sub = ""
    else:
        def build(df):
            commit_batch(df, dest, 0)
        sub = "/epoch=0"
    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        if "/shingles" in path:
            raise RuntimeError("injected shingle write failure")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(RuntimeError, match="injected"):
        build(d.filter(F.col("doc_id") < 60))
    monkeypatch.undo()
    for table in ("shingles", "signatures"):
        assert not os.path.exists(f"{dest}/{table}{sub}/_SUCCESS"), table

    second = d.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120))
    build(second)
    sh = spark.read.parquet(f"{dest}/shingles{sub}")
    sigs = sorted(tuple(r) for r in
                  spark.read.parquet(f"{dest}/signatures{sub}").collect())
    assert sigs == sorted(tuple(r) for r in
                          minhash_signatures_from(sh, "doc_id", 16).collect())
    assert ({r.doc_id for r in sh.select("doc_id").collect()}
            == {r.doc_id for r in second.select("doc_id").collect()})


def test_incremental_pairs_match_full_rebuild(spark, tmp_path):
    """Incremental new-vs-store dedup must equal the full-rebuild pair
    set restricted to pairs touching the new batch."""
    from hackmd_data_pipeline_spark.operators.dedup_store import incremental_pairs

    dest = str(tmp_path / "dedup_store")
    d = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") < 200)
    # new batch: fresh docs + a clone of an OLD doc + a clone pair WITHIN the batch
    fresh = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 260))
    clone_of_old = old.limit(1).select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    in_batch_a = fresh.limit(1).select((F.col("doc_id") + 3_000_000).alias("doc_id"), "text")
    new = fresh.union(clone_of_old).union(in_batch_a)

    build_dedup_store(old, dest, jaccard_threshold=0.5)
    inc = {(r.id_a, r.id_b, r.jaccard)
           for r in incremental_pairs(new, dest, jaccard_threshold=0.5).collect()}

    full = minhash_lsh_pairs(old.union(new), jaccard_threshold=0.5).collect()
    new_ids = {r.doc_id for r in new.collect()}
    expected = {(r.id_a, r.id_b, r.jaccard) for r in full
                if r.id_a in new_ids or r.id_b in new_ids}
    assert inc == expected
    # the engineered duplicates are actually found
    assert any(b >= 2_000_000 for _, b, _ in inc), "old-clone pair missing"
    assert any(b >= 3_000_000 for _, b, _ in inc), "in-batch clone pair missing"


def test_commit_grow_compact_lifecycle(spark, tmp_path):
    """The epoch-commit + compaction lifecycle: a store grown by
    commits answers incremental queries identically before and after
    compaction, keeps accepting commits on the compacted generation,
    and the compaction actually reduces file count."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        commit_batch, compact_store, incremental_pairs)
    from hackmd_data_pipeline_spark.operators.maintenance import table_file_stats

    d = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    grown = str(tmp_path / "grown")
    # grow by 4 epoch commits (each with several small files)
    for epoch, lo in enumerate(range(0, 400, 100)):
        commit_batch(
            d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100))
            .repartition(4), grown, epoch)
    batch = d.filter(F.col("doc_id") >= 400)
    before = sorted((r.id_a, r.id_b, r.jaccard) for r in
                    incremental_pairs(batch, grown,
                                      jaccard_threshold=0.3).collect())
    assert before, "lifecycle test needs a non-empty pair set"

    compacted = str(tmp_path / "compacted")
    stats = compact_store(spark, grown, compacted)
    for table in ("shingles", "signatures"):
        assert (stats[table]["after"]["n_files"]
                < stats[table]["before"]["n_files"]), table
        assert table_file_stats(
            spark, f"{compacted}/{table}")["total_bytes"] > 0

    after = sorted((r.id_a, r.id_b, r.jaccard) for r in
                   incremental_pairs(batch, compacted,
                                     jaccard_threshold=0.3).collect())
    assert before == after, "compaction changed the incremental answer"

    # commits keep landing on the compacted generation — at EPOCH 0,
    # the r07 ADVICE collision: a stream rebootstrapped with a fresh
    # checkpoint restarts its epoch ids at 0, and that first commit
    # must land BESIDE the folded generation (epoch=-1), not overwrite
    # it. Clone one stored doc into the epoch-0 commit; the next batch
    # must near-match it AND still see the entire folded history.
    clone = (d.filter(F.col("doc_id") == 0)
             .select((F.col("doc_id") + 9_000_000).alias("doc_id"), "text"))
    commit_batch(clone, compacted, 0)
    probe = d.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 9_500_000).alias("doc_id"), "text")
    hits = incremental_pairs(probe, compacted,
                             jaccard_threshold=0.9).collect()
    assert any(r.id_a == 9_000_000 and r.id_b == 9_500_000 for r in hits), (
        "post-compaction commit not visible to the incremental join")
    rerun = sorted((r.id_a, r.id_b, r.jaccard) for r in
                   incremental_pairs(batch, compacted,
                                     jaccard_threshold=0.3).collect())
    assert set(before) <= set(rerun), (
        "epoch-0 rebootstrap commit discarded the compacted history")

    # negative generations are reserved for the folded history
    with pytest.raises(ValueError, match="epoch_id"):
        commit_batch(clone, compacted, -1)


# ------------------------- incremental cluster maintenance (r07 V1)


def _resolved(spark, dest, delta_root=None):
    return {(r.id, r.cluster_id)
            for r in load_clusters(spark, dest,
                                   delta_root=delta_root).collect()}


def _scratch(pairs_df):
    """From-scratch CC over an explicit pair frame."""
    return {(r.id, r.cluster_id) for r in dedup_clusters(pairs_df).collect()}


def test_update_clusters_lifecycle_equals_from_scratch(spark, tmp_path):
    """The real deployment loop: grow a store from EMPTY by epoch
    commits, run incremental_pairs + update_clusters per batch, and at
    every step the resolved clusters must equal the from-scratch CC of
    the full persisted pair set (the never-stale contract)."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        commit_batch, incremental_pairs, update_clusters)

    d = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    dest = str(tmp_path / "store")
    for epoch, residue in enumerate((1, 2, 3, 0)):
        batch = d.filter(F.col("doc_id") % 4 == residue)
        if epoch == 0:
            # bootstrap: nothing stored yet; pairs = in-batch LSH
            pairs = minhash_lsh_pairs(batch, jaccard_threshold=0.3,
                                      sort=False)
        else:
            pairs = incremental_pairs(batch, dest, jaccard_threshold=0.3)
        commit_batch(batch, dest, epoch)
        update_clusters(pairs, dest, epoch_id=epoch)
        expect = _scratch(
            load_pairs(spark, dest).select("id_a", "id_b"))
        assert _resolved(spark, dest) == expect, f"stale after epoch {epoch}"
    # full-corpus ground truth: identical to clustering the whole
    # corpus's LSH pairs in one shot
    full = _scratch(minhash_lsh_pairs(d, jaccard_threshold=0.3,
                                      sort=False))
    assert _resolved(spark, dest) == full


def test_update_clusters_merges_existing_components(spark, tmp_path):
    """A batch edge bridging two PERSISTED clusters must merge them
    under the global minimum id, and untouched clusters must keep
    their rows byte-identical."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        update_clusters)

    dest = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10), (50, 50), (51, 50)],
        "id long, cluster_id long")
    base.write.parquet(dest + "/clusters")
    bridge = spark.createDataFrame([(2, 11, 0.9)],
                                   "id_a long, id_b long, jaccard double")
    stats = update_clusters(bridge, dest, epoch_id=0)
    got = _resolved(spark, dest)
    assert got == {(1, 1), (2, 1), (10, 1), (11, 1), (50, 50), (51, 50)}
    # only the two touched components were recomputed
    assert stats["n_reassigned"] == 4


def test_update_clusters_replay_is_idempotent(spark, tmp_path):
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        update_clusters)

    dest = str(tmp_path / "store")
    spark.createDataFrame([(1, 1), (2, 1)], "id long, cluster_id long") \
        .write.parquet(dest + "/clusters")
    pairs = spark.createDataFrame([(2, 7, 0.8), (8, 9, 0.8)],
                                  "id_a long, id_b long, jaccard double")
    update_clusters(pairs, dest, epoch_id=3)
    once = _resolved(spark, dest)
    update_clusters(pairs, dest, epoch_id=3)  # crash-replay of the epoch
    assert _resolved(spark, dest) == once == {(1, 1), (2, 1), (7, 1),
                                              (8, 8), (9, 8)}
    # the pair delta replay overwrote itself, not appended
    assert load_pairs(spark, dest).count() == 2


def test_update_clusters_empty_batch_is_noop(spark, tmp_path):
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        update_clusters)

    dest = str(tmp_path / "store")
    spark.createDataFrame([(1, 1), (2, 1)], "id long, cluster_id long") \
        .write.parquet(dest + "/clusters")
    empty = spark.createDataFrame([],
                                  "id_a long, id_b long, jaccard double")
    stats = update_clusters(empty, dest, epoch_id=0)
    assert stats["n_reassigned"] == 0
    assert _resolved(spark, dest) == {(1, 1), (2, 1)}


def test_compact_clusters_folds_overlay(spark, tmp_path):
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        compact_clusters, update_clusters)

    dest = str(tmp_path / "store")
    spark.createDataFrame([(1, 1), (2, 1), (10, 10), (11, 10)],
                          "id long, cluster_id long") \
        .write.parquet(dest + "/clusters")
    pairs = spark.createDataFrame([(2, 10, 0.8)],
                                  "id_a long, id_b long, jaccard double")
    update_clusters(pairs, dest, epoch_id=0)
    live = _resolved(spark, dest)

    folded = str(tmp_path / "folded")
    compact_clusters(spark, dest, folded)
    assert _resolved(spark, folded) == live == {(1, 1), (2, 1), (10, 1),
                                                (11, 1)}
    # the folded store is a plain single-generation base (no overlay)
    import os
    assert not os.path.exists(folded + "/cluster_deltas")


def test_update_clusters_delta_root_overlay(spark, tmp_path):
    """A pid-scratch overlay over a SHARED read-only store: the store
    dir must stay untouched while resolution through the overlay sees
    the merge (the registry entry's posture)."""
    import os

    from hackmd_data_pipeline_spark.operators.dedup_store import (
        update_clusters)

    dest = str(tmp_path / "shared_store")
    overlay = str(tmp_path / "overlay")
    spark.createDataFrame([(1, 1), (2, 1)], "id long, cluster_id long") \
        .write.parquet(dest + "/clusters")
    pairs = spark.createDataFrame([(2, 5, 0.8)],
                                  "id_a long, id_b long, jaccard double")
    update_clusters(pairs, dest, epoch_id=0, delta_root=overlay)
    assert _resolved(spark, dest, delta_root=overlay) == {(1, 1), (2, 1),
                                                          (5, 1)}
    assert set(os.listdir(dest)) == {"clusters"}, "shared store mutated"
    assert _resolved(spark, dest) == {(1, 1), (2, 1)}  # without overlay


def test_partial_cluster_delta_is_ignored_then_overwritten(spark, tmp_path):
    """Crash-window contract (r08): a cluster delta left WITHOUT its
    _SUCCESS commit marker (crashed update_clusters) must be invisible
    to readers — a partial label subset can make a fully-relabeled
    component evade touched-detection on replay — and the replay's
    next committed seq must overwrite the partial dir."""
    import os

    from hackmd_data_pipeline_spark.operators.dedup_store import (
        update_clusters)

    dest = str(tmp_path / "store")
    spark.createDataFrame([(1, 1), (2, 1), (10, 10), (11, 10)],
                          "id long, cluster_id long") \
        .write.parquet(dest + "/clusters")
    # simulate a crashed merge of (2,10): partial delta holding only a
    # SUBSET of the recomputed labels, no commit marker
    local_df(spark, [(2, 1), (10, 1)], "id long, cluster_id long") \
        .coalesce(1).write.parquet(dest + "/cluster_deltas/seq=0")
    os.remove(dest + "/cluster_deltas/seq=0/_SUCCESS")
    assert _resolved(spark, dest) == {(1, 1), (2, 1), (10, 10), (11, 10)}, (
        "uncommitted delta leaked into the resolved view")

    # epoch replay: recomputes against the committed view and lands at
    # seq=0 again, overwriting the partial dir
    pairs = spark.createDataFrame([(2, 10, 0.8)],
                                  "id_a long, id_b long, jaccard double")
    stats = update_clusters(pairs, dest, epoch_id=0)
    assert stats["seq"] == 0
    assert _resolved(spark, dest) == {(1, 1), (2, 1), (10, 1), (11, 1)}
    assert os.path.exists(dest + "/cluster_deltas/seq=0/_SUCCESS")


# ----------------------------------------------------- deletion (r08)


def _seed_pairs(spark, dest, pairs):
    """Bootstrap a store purely from an explicit pair list (the
    overlay-only store shape update_clusters supports), for precise
    structural control over components."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        update_clusters)

    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    update_clusters(pdf, dest, epoch_id=0)


def test_remove_docs_bridge_delete_splits_component(spark, tmp_path):
    """Deleting the only bridge node must SPLIT its component — the
    case the merge path's star-edge compression cannot express (stars
    preserve connectivity through the hub; the true-pair recompute is
    what makes deletion correct). Chain 1-2-3: deleting 2 leaves 1
    and 3 pairless, so BOTH leave the cluster table entirely."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        load_pairs, remove_docs)

    dest = str(tmp_path / "store")
    _seed_pairs(spark, dest, [(1, 2), (2, 3)])
    assert _resolved(spark, dest) == {(1, 1), (2, 1), (3, 1)}

    out = remove_docs(spark.createDataFrame([(2,)], "id long"), dest)
    assert out["n_deleted"] == 1 and out["n_retired"] == 3
    assert _resolved(spark, dest) == set()
    # invariant: the resolved view equals CC over the surviving pairs
    assert load_pairs(spark, dest).count() == 0


def test_remove_docs_hub_delete_relabels_survivors(spark, tmp_path):
    """Deleting the cluster's minimum id (its label): the surviving
    triangle members must re-label under the new minimum, and an
    UNTOUCHED component must keep its rows exactly."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        remove_docs)

    dest = str(tmp_path / "store")
    _seed_pairs(spark, dest, [(1, 2), (1, 3), (2, 3), (10, 11)])
    assert _resolved(spark, dest) == {(1, 1), (2, 1), (3, 1),
                                      (10, 10), (11, 10)}
    out = remove_docs(spark.createDataFrame([(1,)], "id long"), dest)
    assert out["n_relabeled"] == 2 and out["n_retired"] == 1
    assert _resolved(spark, dest) == {(2, 2), (3, 2), (10, 10), (11, 10)}


def test_remove_docs_whole_cluster_and_pairless_id(spark, tmp_path):
    """Deleting every member of a cluster retires it; deleting an id
    the store never paired is a tombstone-only no-op for clusters."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        remove_docs)

    dest = str(tmp_path / "store")
    _seed_pairs(spark, dest, [(1, 2), (10, 11)])
    out = remove_docs(spark.createDataFrame([(1,), (2,), (99,)], "id long"),
                      dest)
    assert out["n_deleted"] == 3
    assert out["n_relabeled"] == 0 and out["n_retired"] == 2
    assert _resolved(spark, dest) == {(10, 10), (11, 10)}


def test_remove_docs_invariant_under_interleaved_lifecycle(spark, tmp_path):
    """merge -> delete -> merge: after every step the resolved view
    must equal from-scratch CC over load_pairs (the never-stale
    contract extended to deletion), including a late pair that
    references a deleted id (must not resurrect it)."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        load_pairs, remove_docs, update_clusters)

    dest = str(tmp_path / "store")
    _seed_pairs(spark, dest, [(1, 2), (2, 3), (10, 11)])

    def check(step):
        expect = _scratch(load_pairs(spark, dest).select("id_a", "id_b"))
        assert _resolved(spark, dest) == expect, step

    update_clusters(spark.createDataFrame([(3, 4)], "id_a long, id_b long"),
                    dest, epoch_id=1)
    check("merge")
    remove_docs(spark.createDataFrame([(2,)], "id long"), dest)
    check("delete")                      # 1 retired; {3,4} survives split
    assert _resolved(spark, dest) == {(3, 3), (4, 3), (10, 10), (11, 10)}
    # a late pair referencing the deleted id must NOT resurrect it
    update_clusters(spark.createDataFrame([(2, 10)], "id_a long, id_b long"),
                    dest, epoch_id=2)
    check("late-pair-vs-deleted")
    assert _resolved(spark, dest) == {(3, 3), (4, 3), (10, 10), (11, 10)}
    update_clusters(spark.createDataFrame([(4, 10)], "id_a long, id_b long"),
                    dest, epoch_id=3)
    check("merge-after-delete")
    assert _resolved(spark, dest) == {(3, 3), (4, 3), (10, 3), (11, 3)}


def test_remove_docs_excludes_content_from_ingest_and_compaction(
        spark, tmp_path):
    """After remove_docs: incremental_pairs must stop matching new
    batches against the deleted doc's signatures (content exclusion
    is immediate), and compact_store must drop its rows physically
    (the folded store carries no trace)."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        build_dedup_store, compact_store, incremental_pairs, remove_docs)

    d = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    stored = d.filter(F.col("doc_id") < 100)
    dest = str(tmp_path / "store")
    build_dedup_store(stored, dest, jaccard_threshold=0.3)

    clone = (stored.filter(F.col("doc_id") == 5)
             .withColumn("doc_id", F.lit(1_000_000).cast("long")))
    before = incremental_pairs(clone, dest, jaccard_threshold=0.3).collect()
    assert any({r.id_a, r.id_b} == {5, 1_000_000} for r in before)

    remove_docs(spark.createDataFrame([(5,)], "id long"), dest)
    after = incremental_pairs(clone, dest, jaccard_threshold=0.3).collect()
    assert not any(5 in (r.id_a, r.id_b) for r in after)

    folded = str(tmp_path / "folded")
    compact_store(spark, dest, folded)
    for table in ("shingles", "signatures"):
        ids = {r.doc_id for r in
               spark.read.parquet(f"{folded}/{table}").collect()}
        assert 5 not in ids
        assert 6 in ids  # neighbors survive


def test_load_clusters_time_travel(spark, tmp_path):
    """as_of_seq reproduces the exact resolution state after any past
    merge or deletion — the audit read; -1 is the pre-overlay base."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        remove_docs, update_clusters)

    dest = str(tmp_path / "store")
    _seed_pairs(spark, dest, [(1, 2), (10, 11)])            # seq 0
    update_clusters(spark.createDataFrame([(2, 3)], "id_a long, id_b long"),
                    dest, epoch_id=1)                        # seq 1
    remove_docs(spark.createDataFrame([(2,)], "id long"), dest)  # seq 2

    def at(seq):
        return {(r.id, r.cluster_id)
                for r in load_clusters(spark, dest, as_of_seq=seq).collect()}

    assert at(-1) == set()                                   # no flat base
    assert at(0) == {(1, 1), (2, 1), (10, 10), (11, 10)}
    assert at(1) == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert at(2) == {(10, 10), (11, 10)}                     # 2 deleted: 1,3 pairless
    assert at(None) == at(2)                                 # latest


def test_compact_store_folds_pairs_and_clusters_tombstone_free(
        spark, tmp_path):
    """A compacted store must be SELF-CONTAINED (r08 ADVICE): pairs
    (flat + deltas) and clusters compact alongside shingles/signatures
    with the tombstone anti-join applied physically, so after the
    pointer swap load_pairs neither raises nor resurrects deleted ids
    and load_clusters == CC(load_pairs) holds with zero deltas."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        build_dedup_store, compact_store, load_pairs, load_tombstones,
        remove_docs, update_clusters)

    d = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    stored = d.filter(F.col("doc_id") < 100)
    dest = str(tmp_path / "store")
    build_dedup_store(stored, dest, jaccard_threshold=0.3)
    # grow: a pair delta, then delete a doc that has pairs
    update_clusters(
        spark.createDataFrame([(3, 900, 0.9), (900, 901, 0.9)],
                              "id_a long, id_b long, jaccard double"),
        dest, epoch_id=0)
    victim = next(r.id_a for r in
                  load_pairs(spark, dest).select("id_a").limit(1).collect())
    remove_docs(spark.createDataFrame([(int(victim),)], "id long"), dest)

    src_pairs = {(r.id_a, r.id_b)
                 for r in load_pairs(spark, dest).select("id_a", "id_b").collect()}
    src_clusters = _resolved(spark, dest)

    folded = str(tmp_path / "folded")
    stats = compact_store(spark, dest, folded)
    assert "pairs" in stats and "clusters" in stats

    # the folded store answers identically with NO deltas/tombstones
    assert load_tombstones(spark, folded) is None
    folded_pairs = {(r.id_a, r.id_b)
                    for r in load_pairs(spark, folded)
                    .select("id_a", "id_b").collect()}
    assert folded_pairs == src_pairs
    assert not any(victim in p for p in folded_pairs)
    assert _resolved(spark, folded) == src_clusters
    # invariant holds on the folded store itself
    assert _resolved(spark, folded) == _scratch(
        load_pairs(spark, folded).select("id_a", "id_b"))


def test_remove_docs_repairs_crashed_prior_deletion(spark, tmp_path):
    """Crash window (r08 ADVICE): a tombstone seq committed without
    its cluster overlay leaves load_pairs filtered while load_clusters
    still resolves the dead id. The NEXT remove_docs — any ids, even
    unrelated — must detect the orphaned tombstone and repair its
    component too (self-healing), restoring the CC invariant."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        load_pairs, remove_docs)

    dest = str(tmp_path / "store")
    _seed_pairs(spark, dest, [(1, 2), (2, 3), (10, 11)])
    # simulate the crash: tombstone for the bridge node 2 commits
    # (with _SUCCESS) but the overlay never lands
    local_df(spark, [(2,)], "id long").coalesce(1) \
        .write.parquet(dest + "/tombstones/seq=0")
    # the invariant is violated at this point: pairs exclude 2...
    assert not any(2 in (r.id_a, r.id_b)
                   for r in load_pairs(spark, dest).collect())
    # ...but the resolved view still carries it
    assert (2, 1) in _resolved(spark, dest)

    # an unrelated later deletion reconciles the orphan
    out = remove_docs(spark.createDataFrame([(10,)], "id long"), dest)
    assert out["n_deleted"] == 1
    expect = _scratch(load_pairs(spark, dest).select("id_a", "id_b"))
    assert _resolved(spark, dest) == expect
    # bridge delete split 1-2-3 -> 1 and 3 pairless; 10 deleted -> 11 pairless
    assert _resolved(spark, dest) == set()


def test_compact_store_folds_span_store_with_ledger(spark, tmp_path):
    """compact_store folds an epoch-grown span store (spans + the doc
    id ledger CorpusPipeline's audit_spans stage writes beside them)
    into one generation, and incremental_spans against the folded
    store still catches a doc quoting a stored one."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        commit_spans, compact_store)

    def tok(tag, n):
        return " ".join(f"{tag}{j}" for j in range(n))

    store = str(tmp_path / "spanstore")
    for epoch, did in enumerate((1, 2)):
        commit_spans(local_df(spark, [(did, tok(f"t{did}_", 30))],
                              "doc_id long, text string"),
                     store, epoch_id=epoch, k=8)
        local_df(spark, [(did, 30)], "doc_id long, n_tokens int") \
            .write.parquet(f"{store}/docs/epoch={epoch}")

    folded = str(tmp_path / "folded")
    stats = compact_store(spark, store, folded)
    assert "spans" in stats and "docs" in stats
    ledger = spark.read.parquet(folded + "/docs")
    assert {r.doc_id for r in ledger.select("doc_id").collect()} == {1, 2}

    leak = " ".join(tok("t1_", 30).split()[:16]
                    + [f"z{j}" for j in range(14)])
    report = incremental_spans(
        local_df(spark, [(5, leak)], "doc_id long, text string"),
        folded, k=8).collect()
    assert [r.doc_id for r in report] == [5]
    assert report[0].dup_fraction > 0.5


def test_compact_store_repairs_orphaned_tombstone(spark, tmp_path):
    """r09 ADVICE (medium): compacting a store whose remove_docs
    crashed between the tombstone commit and the overlay commit must
    NOT fold the still-resolving dead id (or its component's stale
    labels) into dest/clusters — the folded store starts
    tombstone-free, so that leak would be permanently unhealable and
    right-to-be-forgotten silently broken. compact_store now runs the
    remove_docs repair inline: dead ids leave, touched components
    relabel from their surviving pairs, untouched components keep
    their labels, and CC(load_pairs) == load_clusters holds on the
    folded store."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        compact_store, load_pairs, load_tombstones)

    dest = str(tmp_path / "store")
    _seed_pairs(spark, dest, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)])
    # crash window: tombstone for bridge node 2 commits (with
    # _SUCCESS), the cluster overlay never lands
    local_df(spark, [(2,)], "id long").coalesce(1) \
        .write.parquet(dest + "/tombstones/seq=0")
    assert (2, 1) in _resolved(spark, dest)   # the orphan is live

    folded = str(tmp_path / "folded")
    compact_store(spark, dest, folded)
    got = _resolved(spark, folded)
    assert all(i != 2 for (i, _) in got), "deleted id resurrected"
    # bridge delete split 1-2-3: 1 and 3 became pairless and leave the
    # table; untouched components keep their labels
    assert got == {(10, 10), (11, 10), (20, 20), (21, 20), (22, 20)}
    assert got == _scratch(load_pairs(spark, folded).select("id_a", "id_b"))
    assert load_tombstones(spark, folded) is None


@pytest.fixture(scope="module")
def grown_store(spark, tmp_path_factory):
    """Two stores built from one corpus with planted clones: ``flat``
    holds only the built pairs and clusters; ``grown`` adds a pair
    delta and a cluster overlay (``update_clusters``), then a
    tombstone and a second overlay (``remove_docs``). ``new`` is a
    batch of clones of stored docs for ``incremental_pairs``."""
    from hackmd_data_pipeline_spark.operators.dedup_store import (
        commit_spans, remove_docs, update_clusters)

    root = tmp_path_factory.mktemp("readers")
    flat, grown = str(root / "flat"), str(root / "grown")
    d = (load_table(spark, SF_CORRECT, "documents")
         .filter(F.col("doc_id") < 80).select("doc_id", "text"))
    clones = d.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    for dest in (flat, grown):
        build_dedup_store(d.unionByName(clones), dest, jaccard_threshold=0.9)
    member = load_clusters(spark, grown).first().id
    update_clusters(local_df(spark, [(member, 5_000_000, 1.0)],
                             "id_a long, id_b long, jaccard double"),
                    grown, epoch_id=0)
    remove_docs(local_df(spark, [(5_000_000,)], "id long"), grown)
    commit_spans(d, grown, epoch_id=0, k=8)
    new = d.filter(F.col("doc_id") < 2).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text")
    return {"flat": flat, "grown": grown, "new": new}


def _rebuild_complete_store(spark, st):
    """``build_dedup_store`` over a store whose every stage is
    committed: all stages are skipped, and the store's clusters."""
    build_dedup_store(st["new"], st["flat"], jaccard_threshold=0.9)
    return load_clusters(spark, st["flat"])


_STORE_READERS = {
    "load_clusters_base": lambda spark, st: load_clusters(spark, st["flat"]),
    "load_clusters_overlays":
        lambda spark, st: load_clusters(spark, st["grown"]),
    "load_pairs": lambda spark, st: load_pairs(spark, st["grown"]),
    "load_tombstones": lambda spark, st: load_tombstones(spark, st["grown"]),
    "incremental_pairs": lambda spark, st: incremental_pairs(
        st["new"], st["grown"], jaccard_threshold=0.9),
    "incremental_spans": lambda spark, st: incremental_spans(
        st["new"], st["grown"], k=8),
    "build_dedup_store_complete": _rebuild_complete_store,
    # compact_store's table reads (the call itself writes)
    "read_parquet_epoch_table":
        lambda spark, st: read_parquet(spark, st["grown"] + "/spans"),
}


@pytest.mark.parametrize("reader", sorted(_STORE_READERS))
def test_store_readers_launch_no_job(spark, grown_store, reader):
    """The store tables have fixed schemas, so their readers declare
    them: building the DataFrame launches no Spark job (a parquet read
    that infers its schema launches one per call). The frames still
    read the stored rows."""
    from .conftest import jobs_launched

    out = []
    assert jobs_launched(
        spark, lambda: out.append(_STORE_READERS[reader](spark, grown_store))
    ) == 0
    assert out[0].count() > 0
