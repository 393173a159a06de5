"""Streaming ANN-index ingest: a persisted IVF index maintained
continuously from vector drops — the retrieval-side counterpart of
``streaming/neardup.py`` (r08).

A 100 TB embedding corpus doesn't rebuild its vector index per batch:
the index is bootstrapped ONCE (quantizer trained on the first batch's
bounded sample, ``operators/similarity.build_ivf_index``) and every
later micro-batch lands as a cell-partitioned epoch delta through the
PINNED quantizer (``upsert_ivf_index`` — one pass over the batch, the
base generation never rewritten). ``ivf_search_index`` resolves
committed deltas, so a vector is searchable the moment its epoch
commits — no rebuild window, no stale reads.

Effectively-once side effects, the neardup-ingest discipline:
``foreachBatch`` is at-least-once, every write is epoch-keyed
overwrite, and a retry wipes its own epoch's partials first, so
replays converge to the same files. Exact-id dedup is table-wide (the
reference's ON CONFLICT DO NOTHING posture, reference
src/core/pg_engine.py:113): ids already indexed are skipped via the
bounded two-step anti-join (``operators/joins.bounded_anti_join`` —
the index's id column streams, only batch-sized sets broadcast; r08
VERDICT item 1 retired the table-wide stored-id broadcast).

Contract shared with ``operators/dedup_store.commit_batch``: epoch ids
come from the stream's checkpoint, so REBOOTSTRAPPING with a fresh
checkpoint restarts at epoch 0 — fold outstanding deltas into a fresh
base first (``compact_ivf_index``, which keeps the quantizer while its
cell-balance drift stays within sampling noise and retrains it once
the deltas have drifted) and point the new stream at the folded index;
its epoch 0 then lands beside a delta-free base instead of overwriting
a live delta generation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..operators.joins import bounded_anti_join
from ..operators.similarity import (
    build_ivf_index,
    ivf_delta_epochs,
    ivf_index_data,
    publish_gen_manifest,
    upsert_ivf_index,
)
from ..session import drain
from ..sources.fs import fs_delete, fs_exists


def run_ann_index_ingest(spark: SparkSession, vecs_path: str,
                         index_path: str, checkpoint: str,
                         nlist: int = 16, seed: int = 42,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         out_partitions: int | None = 4) -> dict[str, int]:
    """Drain vector parquet drops into a continuously-searchable IVF
    index. Returns ``{"indexed": n, "skipped": n}`` (skipped =
    already-indexed ids, table-wide). Each input file is read once via
    the checkpoint; ``trigger(availableNow=True)`` drains everything
    pending and stops (the O-35 self-invoking loop posture)."""
    from ..schemas import TPCH_SCHEMAS

    vec_schema = TPCH_SCHEMAS["embeddings"]
    counts = {"indexed": 0, "skipped": 0}

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        # retry safety: wipe this epoch's own partial delta before
        # reading index ids — a partial delta has no _SUCCESS so reads
        # ignore it, but its files would survive the overwrite as
        # stale cell dirs the replay's partitionBy write doesn't touch.
        # A wiped COMMITTED epoch (replay after a post-commit crash)
        # must also leave the generation manifest, or the id read
        # below would chase a path that no longer exists
        if fs_delete(spark, f"{index_path}/deltas/epoch={epoch_id}"):
            publish_gen_manifest(spark, index_path)

        batch = batch.dropDuplicates([id_col]).persist()
        n_in = batch.count()
        if n_in == 0:
            batch.unpersist()
            return

        if not fs_exists(spark, index_path + "/centroids/_SUCCESS"):
            # bootstrap: first batch trains the quantizer and becomes
            # the base generation
            build_ivf_index(batch, index_path, nlist=nlist,
                            id_col=id_col, vec_col=vec_col, seed=seed)
            counts["indexed"] += n_in
            batch.unpersist()
            return

        # bounded id skip (r08 VERDICT item 1): the index's id column
        # streams through a semi-join against the broadcast batch
        # keys; only the matched (<= batch-sized) set is broadcast for
        # the anti-join — no broadcast scales with index size
        indexed_ids = ivf_index_data(spark, index_path).select(id_col)
        fresh = bounded_anti_join(batch, indexed_ids, id_col).persist()
        n_fresh = fresh.count()
        if n_fresh:
            upsert_ivf_index(fresh, index_path, epoch_id,
                             id_col=id_col, vec_col=vec_col,
                             out_partitions=out_partitions)
        counts["indexed"] += n_fresh
        counts["skipped"] += n_in - n_fresh
        fresh.unpersist()
        batch.unpersist()

    drain(spark.readStream.schema(vec_schema).parquet(vecs_path),
          checkpoint, handle_batch)
    return counts


def maintain_ivf_index(spark: SparkSession, ptr_dir: str,
                       max_deltas: int = 16,
                       keep_versions: int = 2) -> dict:
    """The full index-maintenance cycle behind a VERSIONED POINTER —
    the concrete form of every compaction docstring's "the caller
    swaps pointers": readers resolve ``pointer_current(ptr_dir)`` and
    search that path; this maintainer, when compaction is due
    (outstanding deltas > ``max_deltas``), folds base + deltas + tombstones into a fresh
    ``<target>_g<version>`` directory (``compact_ivf_index``),
    atomically publishes it as the new pointer version, and prunes
    generation directories older than ``keep_versions`` (in-flight
    readers of the previous generation keep a valid directory; the
    pointer file history records the lineage).

    The compaction keeps the quantizer while the deltas' cell-balance
    drift (``quantizer_drift``, no Spark job) stays within sampling
    noise and retrains it past that bound.

    Returns ``{"compacted": bool, "current": path, "n_deltas": n}``,
    plus ``"previous"`` and the compaction's ``"retrained"`` and
    ``"l1_drift"`` when it compacted. No-op when nothing is due — safe
    to call after every drain."""
    from ..operators.similarity import (
        compact_ivf_index,
        ivf_delta_epochs,
    )
    from ..sources.fs import (
        fs_delete,
        fs_read_text,
        pointer_current,
        pointer_publish,
        pointer_versions,
    )

    cur = pointer_current(spark, ptr_dir)
    if cur is None:
        raise ValueError(f"pointer {ptr_dir} was never published")
    n_deltas = len(ivf_delta_epochs(spark, cur))
    if n_deltas <= max_deltas:
        return {"compacted": False, "current": cur, "n_deltas": n_deltas}

    vs = pointer_versions(spark, ptr_dir)
    # strict generation-suffix parse (r08 ADVICE): only a TRAILING
    # _g<digits> is a generation marker — a path merely containing
    # "_g" elsewhere (e.g. ".../prod_graph_index") must not be
    # truncated mid-name; without a suffix the path itself is the base
    m = re.fullmatch(r"(.*)_g(\d+)", cur.rstrip("/"))
    base = m.group(1) if m else cur.rstrip("/")
    fresh = f"{base}_g{vs[-1] + 1}"
    folded = compact_ivf_index(spark, cur, fresh)
    pointer_publish(spark, ptr_dir, fresh)

    vs = pointer_versions(spark, ptr_dir)
    kept = vs[-keep_versions:] if keep_versions > 0 else vs
    kept_targets = {fs_read_text(spark, f"{ptr_dir}/v={v}").strip()
                    for v in kept}
    for v in vs:
        if v in kept:
            continue
        old = fs_read_text(spark, f"{ptr_dir}/v={v}").strip()
        if old not in kept_targets:
            fs_delete(spark, old)
    return {"compacted": True, "current": fresh, "previous": cur,
            "n_deltas": n_deltas, **folded}
