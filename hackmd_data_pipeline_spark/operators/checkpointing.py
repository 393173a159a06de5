"""Lineage truncation for iterative operators — local vs reliable
(r06 VERDICT item 3).

The iterative operators (connected-components min-label propagation in
operators/dedup.py, PageRank in operators/graph.py) must truncate their
per-round lineage or the plan grows quadratically. ``localCheckpoint`` does that by
storing blocks in EXECUTOR storage — fast, zero configuration, and the
right default on local[*] — but on a real cluster those blocks die
with their executor: one lost node makes the truncated lineage
unrecoverable and kills a 100 TB dedup job mid-flight.

``iter_checkpoint`` is the single switch point: it uses Spark's
RELIABLE ``.checkpoint()`` (writes to the fault-tolerant checkpoint
directory, typically HDFS/S3, survives any executor loss) whenever a
checkpoint dir is configured, and ``localCheckpoint`` otherwise.
Configure either way:

  * ``spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")`` — the
    native Spark knob; or
  * session conf ``spark.graft.checkpointDir`` — declarative form for
    launchers that only control ``--conf`` (applied lazily here,
    because SparkConf entries cannot call setCheckpointDir themselves).

Both modes produce identical results by contract —
tests/test_checkpointing.py pins CC outputs equal
across modes and proves the reliable path actually writes checkpoint
files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_GRAFT_CKPT_CONF = "spark.graft.checkpointDir"


def _localized(p: str) -> str:
    """Normalize a ``file:`` URI back to a plain path for comparison —
    ``getCheckpointDir`` echoes a scheme the conf value may not carry
    (``file:/tmp/x`` or ``file:///tmp/x`` for conf ``/tmp/x``). Other
    schemes (hdfs://, s3a://) pass through: a conf naming them carries
    the same scheme, so raw prefix comparison already works."""
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    return p


def reliable_checkpoint_dir(spark: SparkSession) -> str | None:
    """The effective reliable-checkpoint directory, or None when the
    session is in local-checkpoint mode.

    Precedence: the session conf is authoritative when present — a
    non-empty value selects reliable mode (and is applied to the
    SparkContext, which cannot be configured via --conf directly), the
    EMPTY string forces local mode (the only way back: Spark has no
    unsetCheckpointDir, so a session that ever went reliable can
    declare itself local again). With no conf at all, a natively-set
    SparkContext checkpoint dir selects reliable mode."""
    conf_dir = spark.conf.get(_GRAFT_CKPT_CONF, None)
    sc = spark.sparkContext
    jopt = sc._jsc.sc().getCheckpointDir()
    native = jopt.get() if jopt.isDefined() else None
    if conf_dir is not None:
        if not conf_dir:
            return None
        # idempotent unless redirected; the native dir gains a random
        # subdir suffix, so compare by PATH prefix — substring
        # containment would treat a new conf dir that happens to be a
        # string prefix of the old native dir (/tmp/ck vs /tmp/ckpt/x)
        # as already applied (r07 ADVICE)
        base = _localized(conf_dir).rstrip("/")
        npath = _localized(native) if native is not None else None
        if npath is None or not (npath == base
                                 or npath.startswith(base + "/")):
            sc.setCheckpointDir(conf_dir)
            jopt = sc._jsc.sc().getCheckpointDir()
            native = jopt.get() if jopt.isDefined() else None
        return native
    return native


def iter_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``.checkpoint()`` when a
    checkpoint dir is configured (cluster posture — survives executor
    loss), ``localCheckpoint`` otherwise (local posture — no extra
    I/O). ``eager=False`` lets the caller's next action materialize
    it, one job instead of two."""
    if reliable_checkpoint_dir(df.sparkSession) is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


class CheckpointRotator:
    """Deterministic reliable-checkpoint GC for iterative operators
    (r07 ADVICE medium).

    Reliable ``.checkpoint()`` writes a full state copy under
    ``<ckptRoot>/<contextUuid>/rdd-<id>/`` per checkpointed round and
    Spark itself only ever deletes those with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` PLUS a
    driver GC that happens to collect the RDD — so a long CC job
    grows the checkpoint dir by rounds x state size until disk
    exhaustion. (session.py sets that conf as the eventual-GC backstop
    for one-shot checkpoints; this class is the deterministic per-round
    cleanup for the loops.)

    Protocol: construct AFTER any loop-invariant checkpoint (the edge
    list) has materialized — existing ``rdd-*`` dirs become an
    immutable baseline the rotator never touches. Then call
    ``rotate()`` immediately after each round's checkpoint has
    MATERIALIZED (i.e. after the round's action): dirs that appeared
    since the last rotate are adopted as the new live round and the
    previous round's dirs are deleted — safe, because once round N's
    files are on disk no live plan reads round N-1 (each round roots at
    the previous round's checkpoint only until its own materializes).
    The FINAL round's files are deliberately kept: the returned
    DataFrame still reads them, and they are ONE state copy, not
    rounds-many.

    In local-checkpoint mode (no checkpoint dir configured) every call
    is a no-op. Not safe for two interleaved iterative jobs on one
    SparkContext (each would adopt the other's dirs) — the operators
    here run their loops to completion before returning, which is the
    only usage."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._root = reliable_checkpoint_dir(spark)
        self._live: list[str] = []
        self._baseline = frozenset(self._list())

    def _list(self) -> list[str]:
        if self._root is None:
            return []
        from ..sources.fs import fs_list_dirs

        return fs_list_dirs(self._spark, self._root)

    def rotate(self) -> None:
        """Adopt newly-materialized checkpoint dirs as the live round;
        delete the previous round's."""
        if self._root is None:
            return
        from ..sources.fs import fs_delete

        now = set(self._list())
        new = sorted(now - self._baseline - set(self._live))
        if not new:  # nothing materialized since last rotate
            return
        for name in self._live:
            fs_delete(self._spark, f"{self._root}/{name}")
        self._live = new
