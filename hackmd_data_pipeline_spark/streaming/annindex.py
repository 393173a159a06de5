"""ANN-index maintenance behind a versioned pointer: the compaction
cycle of a persisted IVF index grown by ``upsert_ivf_index`` epoch
deltas (``operators/similarity.py``).

A 100 TB embedding corpus doesn't rebuild its vector index per batch:
the index is bootstrapped ONCE (``build_ivf_index``) and every later
batch lands as a cell-partitioned epoch delta through the PINNED
quantizer, searchable the moment its epoch commits. Deltas accumulate,
so a maintainer folds them into a fresh base generation
(``compact_ivf_index``, which keeps the quantizer while its
cell-balance drift stays within sampling noise and retrains it once
the deltas have drifted) and swaps the pointer readers resolve.
``CorpusPipeline``'s index_embeddings stage runs this cycle.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from ..operators.similarity import compact_ivf_index, ivf_delta_epochs
from ..sources.fs import (
    fs_delete,
    fs_read_text,
    pointer_current,
    pointer_publish,
    pointer_versions,
)


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
    to call after every upsert."""
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
