"""Both lineage-truncation modes of the iterative operators (r06
VERDICT item 3): local checkpoints (the local[*] default) and RELIABLE
checkpoints (cluster posture — survives executor loss). The contract:
identical results either way, and the reliable path must actually
write into the configured checkpoint directory (not silently fall back
to executor storage).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.checkpointing import (
    iter_checkpoint,
    reliable_checkpoint_dir,
)
from hackmd_data_pipeline_spark.operators.dedup import dedup_clusters


@pytest.fixture
def reliable_dir(spark, tmp_path):
    """Flip the session into reliable-checkpoint mode for one test;
    restore local mode after via the EMPTY-conf override (the
    SparkContext checkpoint dir cannot be unset; the empty string is
    reliable_checkpoint_dir's documented way back, and it must persist
    so later suite tests never checkpoint into this deleted
    tmp_path)."""
    ckpt = tmp_path / "reliable_ckpt"
    spark.conf.set("spark.graft.checkpointDir", str(ckpt))
    yield str(ckpt)
    # Spark has no unsetCheckpointDir: the EMPTY conf value is the
    # documented way back to local mode (reliable_checkpoint_dir),
    # and it must stay set so later suite tests never checkpoint into
    # this test's deleted tmp_path
    spark.conf.set("spark.graft.checkpointDir", "")


def _ckpt_files(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += len(files)
    return n


def _edges(spark):
    """A multi-cluster graph big enough to defeat the small-graph
    driver shortcut is impractical in tests — instead call the
    DISTRIBUTED path directly via a tiny threshold."""
    rows = [(i, i + 1) for i in range(0, 40, 2)]      # 20 two-node clusters
    rows += [(100, 101), (101, 102), (102, 103)]      # one chain
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_reliable_mode_detected_and_writes_files(spark, reliable_dir):
    assert reliable_checkpoint_dir(spark) is not None
    # idempotence across repeated calls: the native dir echoes back
    # with a file: scheme, which must not defeat the prefix check and
    # mint a fresh uuid subdir per call (r08 regression)
    assert reliable_checkpoint_dir(spark) == reliable_checkpoint_dir(spark)
    df = iter_checkpoint(spark.range(10), eager=True)
    assert df.count() == 10
    assert _ckpt_files(reliable_dir) > 0, (
        "reliable mode configured but no checkpoint files written")


def test_redirect_detection_is_path_prefix(spark, tmp_path):
    """r07 ADVICE (low): a new conf dir that is a string prefix of the
    old native dir (ck vs ckpt/<uuid>) must be treated as a REDIRECT,
    not as already applied."""
    long_dir = tmp_path / "ckpt"
    short_dir = tmp_path / "ck"
    spark.conf.set("spark.graft.checkpointDir", str(long_dir))
    native_long = reliable_checkpoint_dir(spark)
    assert "/ckpt/" in native_long
    spark.conf.set("spark.graft.checkpointDir", str(short_dir))
    native_short = reliable_checkpoint_dir(spark)
    assert "/ck/" in native_short and "/ckpt/" not in native_short, (
        "string-prefix conf dir wrongly treated as already applied")
    spark.conf.set("spark.graft.checkpointDir", "")


def test_local_mode_is_the_default(spark):
    # the empty-conf override must force local mode even when the
    # SparkContext dir was set by an earlier reliable-mode test
    spark.conf.set("spark.graft.checkpointDir", "")
    assert reliable_checkpoint_dir(spark) is None
    df = iter_checkpoint(spark.range(10), eager=True)
    assert df.count() == 10


def test_cc_identical_across_modes(spark, reliable_dir, tmp_path):
    pairs = _edges(spark)
    reliable = sorted(map(tuple, dedup_clusters(
        pairs, small_graph_threshold=1).collect()))
    assert _ckpt_files(reliable_dir) > 0
    spark.conf.set("spark.graft.checkpointDir", "")
    local = sorted(map(tuple, dedup_clusters(
        pairs, small_graph_threshold=1).collect()))
    assert reliable == local
    # and both match the driver-side union-find shortcut
    shortcut = sorted(map(tuple, dedup_clusters(
        pairs, small_graph_threshold=100_000).collect()))
    assert reliable == shortcut


def _rdd_dirs(spark) -> list[str]:
    from hackmd_data_pipeline_spark.operators.checkpointing import _localized

    root = _localized(reliable_checkpoint_dir(spark))
    out = []
    for cur, dirs, _ in os.walk(root):
        out += [os.path.join(cur, d) for d in dirs if d.startswith("rdd-")]
    return out


def test_cc_reliable_rounds_are_rotated(spark, reliable_dir):
    """r07 ADVICE (medium): reliable mode must not grow the checkpoint
    dir by rounds x dataset size. An 11-node chain forces ~10 min-label
    propagation rounds; without rotation that is ~12 rdd-* dirs (edges
    + seed + one per round), with the CheckpointRotator only the edge
    list and the final label round survive."""
    chain = [(100 + i, 101 + i) for i in range(10)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    got = sorted(map(tuple, dedup_clusters(
        pairs, small_graph_threshold=1).collect()))
    assert got == [(100 + i, 100) for i in range(11)]
    left = _rdd_dirs(spark)
    # <= 3: edge list + final round (+ one in-flight); ~12 without
    # rotation. (The cleanCheckpoints backstop may additionally sweep
    # GC'd rounds, so the floor is 0 — only the ceiling is asserted.)
    assert len(left) <= 3, (
        f"superseded label rounds not rotated: {left}")


def test_rotator_deletes_superseded_keeps_live(spark, reliable_dir):
    """Direct rotator contract, isolated from the ContextCleaner: hold
    references to both checkpointed frames (a referenced RDD is never
    swept by the cleaner), rotate twice, and check round 1's files are
    gone while round 2's still serve reads."""
    from hackmd_data_pipeline_spark.operators.checkpointing import (
        CheckpointRotator)
    rot = CheckpointRotator(spark)
    df1 = iter_checkpoint(spark.range(100), eager=True)
    rot.rotate()
    dirs1 = set(_rdd_dirs(spark))
    assert dirs1, "eager reliable checkpoint wrote nothing"
    df2 = iter_checkpoint(df1.withColumn("y", F.col("id") * 2), eager=True)
    rot.rotate()
    dirs2 = set(_rdd_dirs(spark))
    assert not (dirs1 & dirs2), "superseded round's files not deleted"
    assert dirs2, "live round's files must survive rotation"
    assert df2.count() == 100  # live data still readable post-rotate
