"""ANN-index maintenance: the versioned-pointer compaction cycle,
the pointer's publish races, and the drift-gated quantizer reuse.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.similarity import (
    compact_ivf_index,
    ivf_delta_epochs,
    ivf_index_data,
    ivf_search_index,
)
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_CORRECT


def _probe_for(emb, vid):
    return (emb.filter(F.col("vec_id") == vid)
            .select(F.lit(-1).alias("query_id"), "embedding"))


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


def _grown_index(spark, path, nlist=8):
    """An nlist-cell index over the %4 in {1, 2} half with the %4 == 3
    quarter upserted as epoch 0 — a delta from the base's own
    distribution."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, upsert_ivf_index)

    emb = load_table(spark, SF_CORRECT, "embeddings")
    build_ivf_index(emb.filter((F.col("vec_id") % 4).isin(1, 2)), path,
                    nlist=nlist, seed=42)
    upsert_ivf_index(emb.filter(F.col("vec_id") % 4 == 3), path, epoch_id=0)
    return emb


def _skewed_delta(spark, emb):
    """The degenerate delta of test_quantizer_drift_flags_skewed_upserts:
    200 copies of one vector, which all land in one cell."""
    one = emb.filter(F.col("vec_id") == 1).select("embedding").first()
    return spark.range(5_000_000, 5_000_200).select(
        F.col("id").alias("vec_id"),
        F.lit(one.embedding).cast("array<float>").alias("embedding"))


def test_quantizer_drift_reads_footers_without_jobs(spark, tmp_path):
    """quantizer_drift sums its per-cell row counts from the Parquet
    footers on the driver: it launches no Spark job and agrees with a
    groupBy("cell").count() over base and deltas."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        quantizer_drift, upsert_ivf_index)

    from .conftest import jobs_launched

    idx = str(tmp_path / "idx")
    emb = _grown_index(spark, idx)
    upsert_ivf_index(_skewed_delta(spark, emb), idx, epoch_id=1)

    out = []
    assert jobs_launched(
        spark, lambda: out.append(quantizer_drift(spark, idx))) == 0
    got = out[0]

    def cells(path):
        return {r.cell: r["count"] for r in
                spark.read.parquet(path).groupBy("cell").count().collect()}

    base = cells(idx + "/data")
    delta = cells(idx + "/deltas")
    nb, nd = sum(base.values()), sum(delta.values())
    l1 = sum(abs(delta.get(c, 0) / nd - base.get(c, 0) / nb)
             for c in set(base) | set(delta))
    assert (got["base_rows"], got["delta_rows"]) == (nb, nd)
    assert got["l1_drift"] == round(l1, 6)
    assert got["max_delta_cell_share"] == round(max(delta.values()) / nd, 6)
    assert got["expected_cell_share"] == 1 / 8


def test_compaction_keeps_undrifted_quantizer(spark, tmp_path):
    """A delta from the base's distribution drifts less than sampling
    noise: the compaction keeps the centroids byte for byte, and its
    rows equal a build of base ∪ delta with those centroids injected."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, compact_ivf_index, load_ivf_centroids,
        quantizer_drift)

    idx, folded = str(tmp_path / "idx"), str(tmp_path / "folded")
    _grown_index(spark, idx)
    drift = quantizer_drift(spark, idx)
    assert drift["l1_drift"] <= drift["noise_l1"], drift

    r = compact_ivf_index(spark, idx, folded)
    assert r == {"retrained": False, "l1_drift": drift["l1_drift"]}
    cents = load_ivf_centroids(spark, idx)
    assert load_ivf_centroids(spark, folded).tobytes() == cents.tobytes()
    assert ivf_delta_epochs(spark, folded) == []

    rebuilt = str(tmp_path / "rebuilt")
    merged = ivf_index_data(spark, idx)
    build_ivf_index(merged.select("vec_id", "embedding"), rebuilt,
                    centroids=cents)

    def rows(path):
        return sorted((r.vec_id, r.cell, r._cnorm) for r in
                      spark.read.parquet(path + "/data").collect())

    assert rows(folded) == rows(rebuilt)


def test_compaction_retrains_drifted_quantizer(spark, tmp_path):
    """The skewed delta drifts past the noise bound: the compaction
    retrains and still holds every row."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        compact_ivf_index, load_ivf_centroids, quantizer_drift,
        upsert_ivf_index)

    idx, folded = str(tmp_path / "idx"), str(tmp_path / "folded")
    emb = _grown_index(spark, idx)
    upsert_ivf_index(_skewed_delta(spark, emb), idx, epoch_id=1)
    drift = quantizer_drift(spark, idx)
    assert drift["l1_drift"] > drift["noise_l1"], drift

    r = compact_ivf_index(spark, idx, folded)
    assert r["retrained"] and r["l1_drift"] == drift["l1_drift"]
    assert not np.array_equal(load_ivf_centroids(spark, folded),
                              load_ivf_centroids(spark, idx))
    assert (ivf_index_data(spark, folded).count()
            == ivf_index_data(spark, idx).count())


def test_compaction_retrains_on_nlist_change(spark, tmp_path):
    """Another cell count needs another quantizer, drift or not."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        compact_ivf_index, load_ivf_centroids)

    idx, folded = str(tmp_path / "idx"), str(tmp_path / "folded")
    _grown_index(spark, idx)
    r = compact_ivf_index(spark, idx, folded, nlist=4)
    assert r["retrained"]
    assert len(load_ivf_centroids(spark, folded)) == 4


def test_maintain_reports_kept_quantizer(spark, tmp_path):
    """maintain_ivf_index passes the compaction's verdict through: an
    in-distribution delta folds into a generation with the same
    centroids, reported as ``retrained=False`` with its drift."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        load_ivf_centroids, quantizer_drift)
    from hackmd_data_pipeline_spark.sources.fs import (
        pointer_current, pointer_publish)
    from hackmd_data_pipeline_spark.streaming.annindex import (
        maintain_ivf_index)

    idx, ptr = str(tmp_path / "index_g0"), str(tmp_path / "ptr")
    _grown_index(spark, idx)
    pointer_publish(spark, ptr, idx)
    drift = quantizer_drift(spark, idx)

    r = maintain_ivf_index(spark, ptr, max_deltas=0)
    assert r["compacted"] and not r["retrained"]
    assert r["l1_drift"] == drift["l1_drift"]
    cur = pointer_current(spark, ptr)
    assert (load_ivf_centroids(spark, cur).tobytes()
            == load_ivf_centroids(spark, idx).tobytes())


def test_drift_gate_on_non_local_scheme(spark, tmp_path):
    """An index addressed by a URI rather than a local path (``file:``
    here; s3a:// and hdfs://, which pyarrow cannot open, take the same
    route) is read through Spark: the centroids and the drift equal
    the local path's, and it compacts."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        load_ivf_centroids, quantizer_drift)

    idx = str(tmp_path / "idx")
    _grown_index(spark, idx)
    uri = "file:" + idx
    assert (load_ivf_centroids(spark, uri).tobytes()
            == load_ivf_centroids(spark, idx).tobytes())
    assert quantizer_drift(spark, uri) == quantizer_drift(spark, idx)

    folded = "file:" + str(tmp_path / "folded")
    assert not compact_ivf_index(spark, uri, folded)["retrained"]
    assert (ivf_index_data(spark, folded).count()
            == ivf_index_data(spark, idx).count())


def test_kept_quantizer_recall_close_to_retrained(spark, tmp_path):
    """Keeping an undrifted quantizer trades a little recall against
    a retrain over the merged corpus (measured 0.718 vs 0.744 here,
    nlist=8, nprobe=4); the gate may not lose more than 0.05."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        brute_force_topk, build_ivf_index)

    idx = str(tmp_path / "idx")
    kept, retrained = str(tmp_path / "kept"), str(tmp_path / "retrained")
    emb = _grown_index(spark, idx)
    assert not compact_ivf_index(spark, idx, kept)["retrained"]
    build_ivf_index(ivf_index_data(spark, idx).select("vec_id", "embedding"),
                    retrained, nlist=8, seed=42)

    q = (emb.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 800))
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(
        emb.filter(F.col("vec_id") % 4 != 0), q, k=10).collect()}

    def recall(path):
        got = {(r.query_id, r.vec_id) for r in
               ivf_search_index(spark, path, q, k=10, nprobe=4).collect()}
        return len(got & exact) / len(exact)

    assert recall(kept) >= recall(retrained) - 0.05
