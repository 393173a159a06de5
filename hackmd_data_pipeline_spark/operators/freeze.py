"""localCheckpoint lifecycle helpers for streaming/pipeline.py's
per-batch freeze.

``df.rdd`` wraps the internal RDD in a fresh deserializing RDD, so
``df.rdd.unpersist()`` never frees the blocks a ``localCheckpoint()``
persisted (round-4 ADVICE). The reliable handle is the persistent-RDD
registry: snapshot its key set around the checkpoint call and the new
ids are exactly the blocks the checkpoint owns.

Ownership discipline (round-5 review): explicitly unpersisting a
localCheckpoint'd RDD is only safe when the caller EXCLUSIVELY owns
the frozen frame — the checkpoint severed lineage, so once the blocks
are gone the frame can never be recomputed and any later action on it
throws. The streaming micro-batch qualifies (its frozen frame dies
with the batch); a cache whose frames escape to callers does NOT —
eviction there must only drop the strong reference and let Spark's
weak-value registry + ContextCleaner reclaim the blocks after GC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_with_block_ids(df: DataFrame) -> tuple[DataFrame, tuple]:
    """Eagerly ``localCheckpoint()`` ``df``; return the frozen frame
    plus the ids of the persistent-RDD blocks the checkpoint created
    (empty tuple if the registry could not be inspected)."""
    jsc = df.sparkSession.sparkContext._jsc
    try:
        before = set(jsc.getPersistentRDDs().keySet().toArray())
    except Exception:
        before = None
    frozen = df.localCheckpoint()
    ids: tuple = ()
    if before is not None:
        try:
            ids = tuple(i for i in jsc.getPersistentRDDs().keySet()
                        .toArray() if i not in before)
        except Exception:
            ids = ()
    return frozen, ids


def unpersist_blocks(session, ids: tuple) -> None:
    """Unpersist the given persistent-RDD ids (non-blocking). ONLY for
    exclusively-owned frames — see module docstring."""
    try:
        jmap = session.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            jr = jmap.get(rid)
            if jr is not None:
                jr.unpersist(False)
    except Exception:
        pass  # owning session already stopped
