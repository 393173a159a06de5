"""Streaming ingest (SURVEY.md §2.I / §7 Phase 3).

The reference's orchestration — self-invoking Lambda micro-batches
(O-35, reference arxiv_collector.py:196-208 / arxiv_etl.py:157-168),
SKIP LOCKED file claiming (O-24), 6-month dedup lookback (O-37) —
collapses into one Structured Streaming pipeline:

  * file source + ``trigger(availableNow=True)`` drains everything
    pending then stops — the self-invocation loop.
  * the streaming checkpoint tracks processed files exactly-once —
    the claim/lock.
  * per micro-batch: within-batch first-wins dedup (O-23) plus a
    left-anti join against the canonical store's ids inside a bounded
    lookback window (O-22/O-37 — the reference's 6-month in-memory id
    set, arxiv_collector.py:123-134) — so a duplicate entry_id
    arriving in a later raw file is dropped, matching the reference's
    ON CONFLICT DO NOTHING primary-key semantics (pg_engine.py:113).
  * ``foreachBatch`` appends canonical + history and quarantines
    corrupt rows atomically per micro-batch (O-5'/O-28).

Exactly-once across a crash INSIDE a micro-batch (sinks written,
checkpoint not yet committed — the Lambda-death window the reference
survives via its pending/processing state machine, arxiv_etl.py:
181-204): every sink is SELF-idempotent — canonical and history each
anti-join the incoming batch against their OWN store's entry_ids
(bounded lookback), and quarantine anti-joins on a per-ROW identity
(source_path + corrupt-line hash — r05 ADVICE: path-only keying
silently narrowed the contract to job-atomic sinks, dropping the rest
of a partially-visible file's corrupt rows forever). A crash between
any two sink writes therefore repairs on replay: the
already-committed sinks drop everything, the missed sinks still see
their rows as new. (Round-5 review: deriving history from the
canonical anti-join's survivors shared one dedup authority across
both sinks, so a crash BETWEEN the canonical and history writes lost
the batch's history rows forever — the replay found the ids already
in canonical and wrote nothing anywhere.) Driven end-to-end with
injected kills both after-all-sinks and between-sinks in
tests/test_etl_e2e.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.freeze import checkpoint_with_block_ids, unpersist_blocks
from ..plans.ingest import completeness_filter, to_canonical, to_history
from ..schemas import RAW_RECORD_SCHEMA
from ..session import drain, observed
from ..sources.fs import fs_exists
from ..sources.writers import write_partitioned_parquet


def run_ingest_stream(spark: SparkSession, raw_path: str, out_root: str,
                      checkpoint: str, lookback: str = "180 days",
                      dedup: bool = True,
                      etl_timestamp: Column | None = None,
                      max_files_per_trigger: int | None = None,
                      batch_hook: Callable[[int], None] | None = None,
                      ) -> dict[str, int]:
    """Drain raw jsonl[.gz] into canonical + history Parquet.

    Returns counts per sink. Exactly-once per file via the checkpoint:
    re-running with the same checkpoint ingests nothing new (O-24/O-5'
    idempotency). Cross-batch dedup: when ``dedup`` is set, incoming
    entry_ids are anti-joined against canonical rows whose
    etl_timestamp falls within ``lookback`` — the bounded build side
    broadcasts at scale, exactly the reference's 6-month id-set trick.
    Both properties are asserted in tests/test_ingest_pipeline.py.

    ``etl_timestamp`` pins the canonical lineage timestamp (a
    reprocessing run that must reproduce a prior store byte-for-byte
    passes the original run's timestamp; default: wall clock).
    ``max_files_per_trigger`` bounds each micro-batch (scale knob:
    keeps the per-batch anti-join build side and sink commit small).
    ``batch_hook(epoch_id)`` runs AFTER the sinks are written but
    BEFORE the checkpoint commits — the crash window the e2e
    kill/restart test injects into; production hooks can emit
    metrics from the same seam.
    """
    canonical_path = f"{out_root}/papers"
    quarantine_path = f"{out_root}/quarantine"
    reader = (
        spark.readStream.schema(RAW_RECORD_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = (
        reader.json(raw_path)
        # per-file lineage (reference s3_path per row, arxiv_etl.py:85):
        # input_file_name() works on file-source streams; a glob-root
        # literal would collapse every row to the same path
        .withColumn("source_path", F.input_file_name())
    )

    counts = {"canonical": 0, "history": 0, "quarantine": 0}
    history_path = f"{out_root}/papers_history"

    def _window_anchor() -> Column:
        """Lookback anchor shared by every sink's dedup build side."""
        anchor = F.current_timestamp()
        if etl_timestamp is not None:
            # Reprocessing posture (r05 ADVICE): a pinned-in-the-past
            # lineage timestamp must stay inside the dedup window, so
            # anchor the lookback at the EARLIER of wall clock and the
            # pin — the union of both windows. Anchoring at wall clock
            # alone silently expires every pinned-stamped id out of
            # the anti-join once the pin falls outside lookback of
            # now, and replays would write duplicates.
            anchor = F.least(anchor, etl_timestamp)
        return anchor

    def _store_ids(path: str) -> DataFrame | None:
        """The O-22/O-37 bounded dedup build side for one sink: the
        store's entry_ids within the lookback window (the reference's
        6-month in-memory id set, arxiv_collector.py:123-134) —
        bounded, so it broadcasts at scale. None if the store does
        not exist yet (first batch). Read with the two columns' types
        given, so no footer is read to infer them and a store whose
        first write never committed reads as empty."""
        if not fs_exists(spark, path):
            return None
        return (
            spark.read.schema("entry_id string, etl_timestamp timestamp")
            .parquet(path)
            .filter(F.col("etl_timestamp")
                    >= _window_anchor() - F.expr(f"INTERVAL {lookback}"))
            .select("entry_id")
        )

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        # the checkpoint job below counts the corrupt rows: a clean
        # batch then runs no quarantine job at all
        parsed, b_obs = observed(
            batch, bad=F.count_if(F.col("_corrupt_record").isNotNull()))
        good = parsed.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
        good = completeness_filter(good)
        if dedup:
            # O-23 within-batch first-wins; the cross-batch anti-join
            # is applied PER SINK below so each sink stays
            # independently idempotent
            good = good.dropDuplicates(["entry_id"])
        # Eagerly materialize the batch via localCheckpoint before any
        # sink write. Why not ``.persist()``: the anti-join build sides
        # below read the very parquet paths the sinks append to, and
        # appending triggers ``refreshByPath``, which BOTH drops the
        # cache entry AND re-lists the file index — a later sink would
        # recompute the batch against a store that now contains the
        # batch's own rows and silently produce zero rows. The
        # checkpoint severs the lineage first. The batch exclusively
        # owns the frozen frame, so the deterministic unpersist in the
        # finally block is safe (operators/freeze.py ownership note).
        incoming, frozen_ids = checkpoint_with_block_ids(
            to_canonical(good, etl_timestamp=etl_timestamp))
        try:
            canonical, history_src = incoming, incoming
            if dedup:
                c_ids = _store_ids(canonical_path)
                if c_ids is not None:
                    canonical = incoming.join(F.broadcast(c_ids),
                                              "entry_id", "left_anti")
                h_ids = _store_ids(history_path)
                if h_ids is not None:
                    history_src = incoming.join(F.broadcast(h_ids),
                                                "entry_id", "left_anti")
            canonical, c_obs = observed(canonical)
            history, h_obs = observed(to_history(history_src))
            write_partitioned_parquet(canonical, canonical_path,
                                      partition_cols=("primary_category",))
            write_partitioned_parquet(history, history_path,
                                      partition_cols=(), sort_col=None)
            counts["canonical"] += c_obs.get["n"]
            counts["history"] += h_obs.get["n"]
            if b_obs.get["bad"]:
                counts["quarantine"] += _quarantine(batch)
        finally:
            # release even when a sink throws — a retried/failed batch
            # must not leak its checkpoint blocks
            unpersist_blocks(spark, frozen_ids)
        if batch_hook is not None:
            batch_hook(epoch_id)

    def _quarantine(batch: DataFrame) -> int:
        """Append ``batch``'s corrupt rows not yet quarantined; return
        how many were appended.

        Exactly-once: a batch replayed after a crash re-presents the
        SAME whole files; anti-join on a ROW identity — (source_path,
        xxhash64 of the corrupt line) — not the path alone (r05
        ADVICE), so a crash that left a PARTIALLY-visible quarantine
        append (non-job-atomic committers) still replays the file's
        remaining corrupt rows instead of dropping them forever. The
        build side is BOUNDED by the same etl_timestamp lookback as
        the canonical/history sides (r06 ADVICE: an unbounded distinct
        over all-time corrupt rows grows forever on a long-running
        deployment — and a replayed file can only be one the
        checkpoint saw within the retention window); rows written
        before the column existed read it as null and stay in the
        build side rather than being silently expired."""
        bad = (batch.filter(F.col("_corrupt_record").isNotNull())
               .select("source_path", "_corrupt_record")
               .withColumn("_row_h", F.xxhash64("_corrupt_record"))
               .withColumn("etl_timestamp", _window_anchor()))
        if fs_exists(spark, quarantine_path):
            seen = (spark.read.schema("source_path string, "
                                      "_corrupt_record string, "
                                      "etl_timestamp timestamp")
                    .parquet(quarantine_path)
                    .filter(F.coalesce(
                        F.col("etl_timestamp")
                        >= _window_anchor() - F.expr(f"INTERVAL {lookback}"),
                        F.lit(True)))
                    .select("source_path",
                            F.xxhash64("_corrupt_record").alias("_row_h"))
                    .distinct())
            bad = bad.join(F.broadcast(seen),
                           ["source_path", "_row_h"], "left_anti")
        bad, q_obs = observed(bad.drop("_row_h"))
        bad.write.mode("append").parquet(quarantine_path)
        return q_obs.get["n"]

    drain(raw, checkpoint, handle_batch)
    return counts
