"""Streaming ANN-index ingest: the persisted IVF index stays
searchable and duplicate-free across micro-batch boundaries,
exactly-once per input file via the checkpoint (r08 — the
streaming/neardup.py discipline applied to the vector index).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.similarity import (
    compact_ivf_index,
    ivf_delta_epochs,
    ivf_index_data,
    ivf_search_index,
)
from hackmd_data_pipeline_spark.streaming.annindex import run_ann_index_ingest
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_CORRECT


def _write_drop(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


def _probe_for(emb, vid):
    return (emb.filter(F.col("vec_id") == vid)
            .select(F.lit(-1).alias("query_id"), "embedding"))


def test_ann_index_stream_bootstrap_upsert_search(spark, tmp_path):
    vecs_in = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    emb = load_table(spark, SF_CORRECT, "embeddings")
    first = emb.filter(F.col("vec_id") < 200)
    _write_drop(first, vecs_in)
    c1 = run_ann_index_ingest(spark, vecs_in, idx, ckpt, nlist=8)
    assert c1 == {"indexed": 200, "skipped": 0}
    assert ivf_delta_epochs(spark, idx) == []  # bootstrap = base

    # drop 2: fresh vectors + a repeat of an indexed id (skipped)
    second = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    repeat = emb.filter(F.col("vec_id") == 5)
    _write_drop(second.unionByName(repeat), vecs_in)
    c2 = run_ann_index_ingest(spark, vecs_in, idx, ckpt, nlist=8)
    assert c2 == {"indexed": 100, "skipped": 1}

    ids = [r.vec_id for r in
           ivf_index_data(spark, idx).select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == 300

    # a vector from the delta generation is searchable at rank 1
    hit = ivf_search_index(spark, idx, _probe_for(emb, 250), k=3,
                           nprobe=2).collect()
    assert hit[0].vec_id == 250 and hit[0].cosine > 0.999999

    # exactly-once: a re-run with the same checkpoint ingests nothing
    c3 = run_ann_index_ingest(spark, vecs_in, idx, ckpt, nlist=8)
    assert c3 == {"indexed": 0, "skipped": 0}
    assert ivf_index_data(spark, idx).count() == 300


def test_ann_index_stream_compaction_cycle(spark, tmp_path):
    """Drain several drops, fold the delta generations into a fresh
    base (the rebootstrap prerequisite), and continue ingesting into
    the folded index with a FRESH checkpoint — epoch 0 of the new
    stream must land beside the folded base, never clobber it."""
    vecs_in = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    emb = load_table(spark, SF_CORRECT, "embeddings")
    for lo, hi in ((0, 150), (150, 250), (250, 350)):
        _write_drop(emb.filter((F.col("vec_id") >= lo)
                               & (F.col("vec_id") < hi)), vecs_in)
        run_ann_index_ingest(spark, vecs_in, idx, ckpt, nlist=8)
    assert len(ivf_delta_epochs(spark, idx)) == 2

    folded = str(tmp_path / "folded")
    compact_ivf_index(spark, idx, folded)
    assert ivf_delta_epochs(spark, folded) == []
    assert ivf_index_data(spark, folded).count() == 350

    # rebootstrapped stream (fresh checkpoint) over the folded index
    _write_drop(emb.filter((F.col("vec_id") >= 350)
                           & (F.col("vec_id") < 400)), vecs_in)
    c = run_ann_index_ingest(spark, vecs_in, folded,
                             str(tmp_path / "ckpt2"), nlist=8)
    # the fresh checkpoint replays ALL drops; already-indexed ids skip
    assert c == {"indexed": 50, "skipped": 350}
    ids = [r.vec_id for r in
           ivf_index_data(spark, folded).select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == 400
    hit = ivf_search_index(spark, folded, _probe_for(emb, 399), k=3,
                           nprobe=2).collect()
    assert hit[0].vec_id == 399 and hit[0].cosine > 0.999999


def test_pointer_maintained_index_cycle(spark, tmp_path):
    """The versioned-pointer maintenance cycle (the concrete 'caller
    swaps pointers'): readers resolve pointer_current and search that
    path; maintain_ivf_index compacts when due, publishes the fresh
    generation atomically, keeps the previous generation directory
    for in-flight readers, and prunes older ones."""
    import os

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        upsert_ivf_index,
    )
    from hackmd_data_pipeline_spark.sources.fs import (
        pointer_current,
        pointer_publish,
        pointer_versions,
    )
    from hackmd_data_pipeline_spark.streaming.annindex import (
        maintain_ivf_index,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    ptr = str(tmp_path / "ptr")
    g0 = str(tmp_path / "index_g0")
    build_ivf_index(emb.filter(F.col("vec_id") < 200), g0, nlist=8)
    pointer_publish(spark, ptr, g0)
    assert pointer_current(spark, ptr) == g0

    # not due: no-op
    r = maintain_ivf_index(spark, ptr, max_deltas=2)
    assert not r["compacted"] and r["current"] == g0

    for epoch, (lo, hi) in enumerate(((200, 260), (260, 320), (320, 380))):
        upsert_ivf_index(emb.filter((F.col("vec_id") >= lo)
                                    & (F.col("vec_id") < hi)),
                         pointer_current(spark, ptr), epoch_id=epoch)
    r = maintain_ivf_index(spark, ptr, max_deltas=2, keep_versions=2)
    assert r["compacted"] and r["previous"] == g0
    cur = pointer_current(spark, ptr)
    assert cur == r["current"] != g0
    assert os.path.exists(g0)  # in-flight readers keep a valid dir

    # search through the maintained pointer: everything indexed so far
    assert ivf_index_data(spark, cur).count() == 380
    hit = ivf_search_index(spark, cur, _probe_for(emb, 350), k=3,
                           nprobe=4).collect()
    assert hit[0].vec_id == 350 and hit[0].cosine > 0.999999

    # another cycle: g0 falls out of the keep window and is pruned
    upsert_ivf_index(emb.filter((F.col("vec_id") >= 380)
                                & (F.col("vec_id") < 400)), cur, epoch_id=0)
    for epoch in (1, 2, 3):
        upsert_ivf_index(emb.filter(F.col("vec_id") == 400 + epoch),
                         cur, epoch_id=epoch)
    r2 = maintain_ivf_index(spark, ptr, max_deltas=2, keep_versions=2)
    assert r2["compacted"]
    assert not os.path.exists(g0)
    assert os.path.exists(cur)  # previous generation survives
    assert len(pointer_versions(spark, ptr)) == 3
    assert ivf_index_data(spark, pointer_current(spark, ptr)).count() == 403


def test_pointer_publish_detects_lost_race(spark, tmp_path, monkeypatch):
    """file:// rename-onto-existing OVERWRITES (POSIX renameTo), so a
    publisher racing on the same version id would silently clobber the
    other's target (r08 ADVICE). The publish loop must probe for an
    existing destination AND verify its own target after the rename,
    falling through to n+1 instead of losing a publish."""
    import hackmd_data_pipeline_spark.sources.fs as fsmod

    ptr = str(tmp_path / "ptr")
    assert fsmod.pointer_publish(spark, ptr, "target-a") == 0

    # stale-listing race: a second publisher computed its version from
    # a listing taken BEFORE v=0 landed (simulated by forcing the
    # in-call listing to look empty once)
    real = fsmod.pointer_versions
    calls = {"n": 0}

    def stale_once(spark_, ptr_dir):
        calls["n"] += 1
        return [] if calls["n"] == 1 else real(spark_, ptr_dir)

    monkeypatch.setattr(fsmod, "pointer_versions", stale_once)
    assert fsmod.pointer_publish(spark, ptr, "target-b") == 1
    monkeypatch.setattr(fsmod, "pointer_versions", real)

    # NEITHER publish was lost: v=0 still holds a, v=1 holds b
    assert fsmod.fs_read_text(spark, f"{ptr}/v=0").strip() == "target-a"
    assert fsmod.fs_read_text(spark, f"{ptr}/v=1").strip() == "target-b"
    assert fsmod.pointer_current(spark, ptr) == "target-b"


def test_maintain_ivf_index_generation_suffix_parse(spark, tmp_path):
    """A pointer target whose path contains '_g' NOT as a trailing
    generation marker (e.g. .../prod_graph_index) must not be
    truncated mid-name when deriving the fresh generation directory
    (r08 ADVICE): the fresh dir is <target>_g<version>, and a proper
    _g<digits> suffix still swaps in place of the old one."""
    import os

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        upsert_ivf_index,
    )
    from hackmd_data_pipeline_spark.sources.fs import (
        pointer_current,
        pointer_publish,
    )
    from hackmd_data_pipeline_spark.streaming.annindex import (
        maintain_ivf_index,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    ptr = str(tmp_path / "ptr")
    g0 = str(tmp_path / "prod_graph_index")
    build_ivf_index(emb.filter(F.col("vec_id") < 100), g0, nlist=4)
    pointer_publish(spark, ptr, g0)
    for epoch in (0, 1):
        upsert_ivf_index(emb.filter(F.col("vec_id") == 100 + epoch),
                         pointer_current(spark, ptr), epoch_id=epoch)
    r = maintain_ivf_index(spark, ptr, max_deltas=1)
    assert r["compacted"]
    assert r["current"] == str(tmp_path / "prod_graph_index_g1")
    assert os.path.exists(r["current"] + "/centroids/_SUCCESS")
    assert ivf_index_data(spark, r["current"]).count() == 102

    # and a real _g<n> suffix is REPLACED, not stacked
    for epoch in (0, 1):
        upsert_ivf_index(emb.filter(F.col("vec_id") == 102 + epoch),
                         pointer_current(spark, ptr), epoch_id=epoch)
    r2 = maintain_ivf_index(spark, ptr, max_deltas=1)
    assert r2["current"] == str(tmp_path / "prod_graph_index_g2")


def test_pointer_publish_claim_closes_overwrite_window(spark, tmp_path, monkeypatch):
    """r09 ADVICE: the exists-probe + read-back narrowed but did not
    CLOSE the lost-publish race — publisher B whose probe ran before
    A's rename could still land on v=n after A's own read-back
    succeeded, clobbering A on POSIX rename-overwrite. The
    exclusive-create CLAIM makes version ownership atomic: even a
    publisher that (simulated here) believes v=1 is absent cannot
    take it, because A's claim marker already exists."""
    import hackmd_data_pipeline_spark.sources.fs as fsmod

    ptr = str(tmp_path / "ptr")
    assert fsmod.pointer_publish(spark, ptr, "target-a0") == 0
    assert fsmod.pointer_publish(spark, ptr, "target-a1") == 1

    # B raced: its listing predates v=1 AND its exists-probe for v=1
    # runs "before A's rename" (both simulated) — the old code would
    # rename onto v=1, silently clobbering target-a1
    real_exists = fsmod.fs_exists
    monkeypatch.setattr(fsmod, "pointer_versions", lambda s, p: [0])
    monkeypatch.setattr(
        fsmod, "fs_exists",
        lambda s, p: False if p.endswith("v=1") else real_exists(s, p))
    assert fsmod.pointer_publish(spark, ptr, "target-b") == 2
    monkeypatch.undo()

    assert fsmod.fs_read_text(spark, f"{ptr}/v=1").strip() == "target-a1"
    assert fsmod.pointer_current(spark, ptr) == "target-b"


def test_pointer_publish_skips_crashed_claim(spark, tmp_path):
    """A claim marker whose publisher crashed before landing content
    permanently retires that version number (markers are never
    deleted — deleting one would re-open it to stale-listing racers);
    the next publisher simply lands one higher. Version numbers need
    not be dense: readers resolve MAX(landed)."""
    from hackmd_data_pipeline_spark.sources.fs import (
        fs_create_exclusive, pointer_current, pointer_publish)

    ptr = str(tmp_path / "ptr")
    assert pointer_publish(spark, ptr, "t0") == 0
    assert fs_create_exclusive(spark, f"{ptr}/.v=1.claim")  # crashed peer
    assert pointer_publish(spark, ptr, "t1") == 2
    assert pointer_current(spark, ptr) == "t1"
