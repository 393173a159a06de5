"""The composed corpus pipeline: collect → ingest → curate → resolve
→ split/pack as ONE restartable state machine.

This is the repo's analogue of the reference's end-to-end ETL chain —
a self-invoking Lambda that claims pending work, transforms, sinks,
flips status, and re-invokes itself, surviving death between any two
steps (reference src/etl/arxiv_etl.py:181-204 claim → transform →
sink → status-flip loop over the raw_batches state machine;
src/extract/arxiv_collector.py:211-330 the collector's half). Every
link was already built and tested in isolation; this module chains
them over ONE stage ledger (a ControlTable state machine, the
pending/processing/finished lifecycle of O-24/O-25) and makes the
whole chain idempotent under a kill anywhere:

  * collect — Collector.drain(): raw JSONL, per-category progress
    control rows; a replayed category re-fetches but the id-history
    anti-join (O-22) writes nothing twice.
  * ingest — run_ingest_stream(): Structured Streaming availableNow
    drain; the checkpoint claims files exactly-once, and a crash
    INSIDE a micro-batch (sinks written, checkpoint uncommitted)
    replays into anti-joins that drop every already-written row.
  * build_documents / curate / resolve / annotate / finalize —
    deterministic transforms (pinned lineage timestamp, hash-derived
    ids, integer-ranked keywords + pinned-artifact topics,
    hash-bucket splits, hash-partitioned packing) written with
    overwrite: a re-run after a crash rewrites byte-identical
    content, so "at-least-once execution + deterministic overwrite"
    composes to exactly-once output.
  * audit_spans / index_embeddings (r09) — the two persisted
    FRONTIER stores as ledger stages: the exact-substring span store
    (verbatim-leak audit + drop + commit of the survivors' spans)
    and the pointer-versioned ANN index (hashing-trick embeddings,
    bootstrap/upsert behind pointer_current, maintenance-due check) —
    so the composed pipeline exercises every persisted store the
    repo ships, with the same kill-anywhere convergence (own-epoch
    wipes + bounded id-skips make replays converge).

The stage ledger commits AFTER the stage's sinks — the crash window
between sink and commit (the Lambda-death window) therefore re-runs
the stage, which the properties above make harmless. The whole
contract is proven in tests/test_etl_e2e.py: a fault script kills the
driver loop at every stage boundary (plus mid-micro-batch), the
pipeline restarts from the ledger, and the final canonical + history
+ corpus + control outputs are compared row-for-row with an
uninterrupted run.

Scale posture: stage boundaries are parquet directories (the lake),
control state is tiny generation-flipped parquet that the driver
writes and reads through Arrow (streaming/control.py), and every
stage's plan is the same oracled operator the registry serves — no
driver-side data paths beyond the bounded control state. The driver
loop itself launches no bookkeeping jobs: the ledger is read once per
``run()`` (the driver is its only writer) and a flip writes the Arrow
table ``_mark`` builds, so it launches no job; stage counts are
observed on the stage's own sink write (``Dataset.observe``), not
re-read and counted; and a stage reading back what it just wrote
passes the written frame's schema, so no footer-inference job runs.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .collector import Collector, FetchFn
from .functions.scalars import WS_CLASS
from .session import observed
from .streaming.control import ControlTable
from .streaming.pipeline import run_ingest_stream


def hashed_embeddings(docs: DataFrame, dim: int = 16,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Deterministic hashing-trick document embeddings — the oracled
    ``text_feature_hashing`` formulation (Weinberger et al. 2009,
    arXiv:0902.2206) assembled DENSE and L2-normalized:
    bucket = xxhash64(term) mod dim, sign = the hash's top bit, the
    signed occurrence sums become a fixed-dim ``array<float>``. No
    vocabulary pass, no model state, one map-side-combinable shuffle —
    the featurizer a 100 TB corpus can afford when no learned encoder
    is in the loop (and the stand-in for one here: the index stage is
    encoder-agnostic, any ``vec_id | embedding`` table plugs in).
    Token-free docs emit no row. Output: ``vec_id | embedding``."""
    toks = (docs.select(
        id_col,
        F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                          WS_CLASS)).alias("term"))
        .filter(F.length("term") > 0))
    h = F.xxhash64("term")
    sparse = (toks.select(
        id_col,
        F.pmod(h, F.lit(dim)).alias("bucket"),
        F.when(F.shiftrightunsigned(h, 63) == 1, F.lit(-1.0))
        .otherwise(F.lit(1.0)).alias("sign"))
        .groupBy(id_col, "bucket").agg(F.sum("sign").alias("w")))
    return (sparse.groupBy(id_col)
            .agg(F.map_from_entries(
                F.collect_list(F.struct("bucket", "w"))).alias("_m"))
            .withColumn("_raw", F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at("_m", i.cast("bigint")), F.lit(0.0))))
            .withColumn("_n", F.greatest(
                F.sqrt(F.aggregate("_raw", F.lit(0.0),
                                   lambda a, x: a + x * x)),
                F.lit(1e-12)))
            .select(F.col(id_col).alias("vec_id"),
                    F.transform("_raw", lambda x: x / F.col("_n"))
                    .cast("array<float>").alias("embedding")))


STAGE_LEDGER_SCHEMA = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("status", T.StringType()),      # pending|processing|finished
    T.StructField("attempt", T.IntegerType()),
    T.StructField("updated_at", T.TimestampType()),
])


class SimulatedCrash(RuntimeError):
    """Raised by an injected fault hook to simulate driver death."""


FaultHook = Callable[[str, str], None]   # (point, stage) -> may raise


class CorpusPipeline:
    """Restartable collect→pack corpus build over a stage ledger.

    ``run()`` resumes at the first non-finished stage; construct a
    fresh instance over the same ``root`` to model a process restart
    (all state lives on disk). ``fault_hook(point, stage)`` is called
    at ``claimed`` (status flipped to processing, work not started),
    ``done`` (sinks written, ledger not yet flipped — the hardest
    window), and ``batch`` (inside an ingest micro-batch, sinks
    written, checkpoint uncommitted); a hook that raises simulates a
    kill at exactly that boundary.
    """

    STAGES = ("collect", "ingest", "build_documents", "curate",
              "resolve", "audit_spans", "annotate", "index_embeddings",
              "finalize")

    def __init__(self, spark: SparkSession, root: str, fetch: FetchFn,
                 categories: list[str], *,
                 etl_timestamp: str = "2026-01-01 00:00:00",
                 split_fractions: dict[str, float] | None = None,
                 pack_budget: int = 512,
                 lsh_threshold: float = 0.5,
                 span_k: int = 8,
                 max_dup_fraction: float = 0.8,
                 emb_dim: int = 16,
                 emb_quantize: bool = False,
                 ann_nlist: int = 4,
                 ann_max_deltas: int = 16,
                 fault_hook: FaultHook | None = None):
        self.spark = spark
        self.root = root
        self.fetch = fetch
        self.categories = categories
        self.etl_timestamp = etl_timestamp
        self.split_fractions = split_fractions or {
            "train": 0.8, "val": 0.1, "test": 0.1}
        self.pack_budget = pack_budget
        self.lsh_threshold = lsh_threshold
        self.span_k = span_k
        self.max_dup_fraction = max_dup_fraction
        self.emb_dim = emb_dim
        self.emb_quantize = emb_quantize
        self.ann_nlist = ann_nlist
        self.ann_max_deltas = ann_max_deltas
        self.fault_hook = fault_hook
        self.ledger = ControlTable(spark, f"{root}/control/stage_ledger",
                                   STAGE_LEDGER_SCHEMA)
        # stage -> (status, attempt): the ledger as of its last write
        # by this process; loaded from disk by run() (a restart
        # rebuilds it there) or by the first _mark
        self._rows: dict[str, tuple[str, int]] | None = None

    # ------------------------------------------------------------ ledger ops

    def _statuses(self) -> dict[str, tuple[str, int]]:
        return {r.stage: (r.status, r.attempt or 0)
                for r in self.ledger.read().collect()}

    def _mark(self, stage: str, status: str, attempt: int) -> None:
        if self._rows is None:
            self._rows = self._statuses()
        self._rows[stage] = (status, attempt)
        now = datetime.now(timezone.utc)
        self.ledger.write(pa.Table.from_pylist(
            [{"stage": s, "status": st, "attempt": at, "updated_at": now}
             for s, (st, at) in sorted(self._rows.items())]))

    def _fault(self, point: str, stage: str) -> None:
        if self.fault_hook is not None:
            self.fault_hook(point, stage)

    # --------------------------------------------------------------- driving

    def run(self) -> dict:
        """Resume-safe drive loop: claim → work → commit per stage."""
        summary: dict = {}
        # read once: the driver is the ledger's only writer, so the
        # rows _mark keeps are what every later read would return
        self._rows = self._statuses()
        for stage in self.STAGES:
            status, attempt = self._rows.get(stage, ("pending", 0))
            if status == "finished":
                summary[stage] = "skipped(finished)"
                continue
            self._mark(stage, "processing", attempt + 1)
            self._fault("claimed", stage)
            summary[stage] = getattr(self, f"_stage_{stage}")()
            self._fault("done", stage)
            self._mark(stage, "finished", attempt + 1)
        return summary

    # ---------------------------------------------------------------- stages

    def _stage_collect(self) -> dict:
        c = Collector(self.spark, self.root, self.fetch, self.categories)
        runs = c.drain()
        return {"runs": runs}

    def _stage_ingest(self) -> dict:
        from pyspark.errors import StreamingQueryException
        try:
            return run_ingest_stream(
                self.spark, f"{self.root}/raw", f"{self.root}/store",
                f"{self.root}/checkpoints/ingest",
                # reprocessing posture: the pinned lineage timestamp may
                # be far in the past; run_ingest_stream anchors the
                # replay-dedup lookback at the pin (streaming/pipeline.py
                # _store_ids), so the default window covers it without a
                # wide-lookback workaround
                etl_timestamp=F.lit(self.etl_timestamp).cast("timestamp"),
                max_files_per_trigger=2,
                batch_hook=lambda epoch: self._fault("batch", f"ingest:{epoch}"),
            )
        except StreamingQueryException as e:
            # a fault-hook kill inside foreachBatch surfaces as a failed
            # streaming query — re-raise as the crash it simulates
            if "SimulatedCrash" in str(e):
                raise SimulatedCrash(str(e)) from e
            raise

    def _stage_build_documents(self) -> dict:
        """Canonical papers → the documents shape every curation/dedup
        operator consumes. Deterministic surrogate id (xxhash64 of the
        natural key) so a rebuild reproduces ids bit-for-bit."""
        papers = self.spark.read.parquet(f"{self.root}/store/papers")
        text = F.concat_ws("\n\n", F.col("title"), F.col("summary"))
        docs = papers.select(
            F.xxhash64("entry_id").alias("doc_id"),
            F.col("entry_id"),
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.col("primary_category").alias("source"),
            F.length(text).alias("n_chars"),
        )
        docs, obs = observed(docs)
        docs.write.mode("overwrite").parquet(
            f"{self.root}/corpus/documents.parquet")
        return {"documents": obs.get["n"]}

    def _stage_curate(self) -> dict:
        """Per-document verdicts (the oracled docs_curation_decisions
        operator) + the kept stratum, both materialized."""
        from .plans.textops import curation_decision_table
        docs = self.spark.read.parquet(f"{self.root}/corpus/documents.parquet")
        decisions = curation_decision_table(docs)
        decisions.write.mode("overwrite").parquet(
            f"{self.root}/corpus/decisions.parquet")
        kept = docs.join(
            self.spark.read.schema(decisions.schema)
            .parquet(f"{self.root}/corpus/decisions.parquet")
            .filter("kept").select("doc_id"), "doc_id", "left_semi")
        kept, obs = observed(kept)
        kept.write.mode("overwrite").parquet(
            f"{self.root}/corpus/kept_documents.parquet")
        return {"kept": obs.get["n"]}

    def _stage_audit_spans(self) -> dict:
        """Exact-substring (verbatim-leak) audit THROUGH the persisted
        span store (r09 VERDICT item 3), running AFTER fuzzy whole-doc
        resolution: MinHash/CC removes whole near-duplicates cheaply,
        this stage catches what doc-level Jaccard is blind to — the
        QUOTE MOSAIC assembled from verbatim chunks of several
        different documents (high span coverage, low pairwise
        Jaccard). The resolved stratum's k-token span
        report is computed (the Lee et al. audit, oracled as
        docs_exact_substring_dedup), docs above ``max_dup_fraction``
        are dropped, and the survivors' span hashes + doc ledger
        COMMIT to the span store the pipeline carries
        (``stores/spans`` — later ingest cycles and ad-hoc
        incremental_spans reads dedup against it without rescanning
        this corpus). Replay convergence: the stage owns epoch 0 and
        wipes its own epoch dirs before auditing, so a re-run after a
        crash between the span commit and the ledger flip never
        double-counts its own prior commit; every write is a
        deterministic overwrite."""
        from .operators.dedup import exact_substring_spans
        from .operators.dedup_store import commit_spans
        from .sources.fs import fs_delete

        store = f"{self.root}/stores/spans"
        for t in ("spans", "docs"):
            fs_delete(self.spark, f"{store}/{t}/epoch=0")
        kept = self.spark.read.parquet(
            f"{self.root}/corpus/resolved_documents.parquet")
        report = exact_substring_spans(kept, k=self.span_k)
        report.write.mode("overwrite").parquet(
            f"{self.root}/corpus/span_report.parquet")
        keep_ids = (self.spark.read.schema(report.schema)
                    .parquet(f"{self.root}/corpus/span_report.parquet")
                    .filter(F.col("dup_fraction")
                            <= F.lit(self.max_dup_fraction))
                    .select("doc_id", F.lit(True).alias("_keep")))
        # a left join observed above the join counts every input doc;
        # a semi join against an empty keep-set may never scan them
        flagged, obs = observed(kept.join(keep_ids, "doc_id", "left"),
                                kept=F.count("_keep"))
        audited = flagged.filter(F.col("_keep")).drop("_keep")
        audited.write.mode("overwrite").parquet(
            f"{self.root}/corpus/audited_documents.parquet")
        audited = self.spark.read.schema(audited.schema).parquet(
            f"{self.root}/corpus/audited_documents.parquet")
        n = obs.get
        n_in, n_kept = n["n"], n["kept"]
        if n_kept:
            commit_spans(audited, store, epoch_id=0, k=self.span_k,
                         out_partitions=4)
            (audited.select(
                "doc_id",
                F.size(F.split(F.lower(F.trim(F.col("text"))),
                               WS_CLASS)).alias("n_tokens"))
             .coalesce(4).write.mode("overwrite")
             .parquet(f"{store}/docs/epoch=0"))
        return {"audited_kept": n_kept, "dropped_verbatim": n_in - n_kept}

    def _stage_resolve(self) -> dict:
        """Near-dup resolution over the kept stratum: MinHash-LSH
        pairs → connected components → keep each cluster's min-id
        canonical (the oracled dedup_cluster_resolve chain)."""
        from .operators.dedup import dedup_clusters, minhash_lsh_pairs
        kept = self.spark.read.parquet(
            f"{self.root}/corpus/kept_documents.parquet")
        pairs = minhash_lsh_pairs(kept, jaccard_threshold=self.lsh_threshold,
                                  sort=False)
        clusters = dedup_clusters(pairs).select(
            F.col("id").alias("doc_id"), "cluster_id")
        clusters.write.mode("overwrite").parquet(
            f"{self.root}/corpus/clusters.parquet")
        dropped = (self.spark.read.schema(clusters.schema).parquet(
            f"{self.root}/corpus/clusters.parquet")
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id"))
        resolved, obs = observed(kept.join(dropped, "doc_id", "left_anti"))
        resolved.write.mode("overwrite").parquet(
            f"{self.root}/corpus/resolved_documents.parquet")
        return {"resolved": obs.get["n"]}

    def _stage_annotate(self) -> dict:
        """Fill the reference's DECLARED-but-never-populated enrichment
        columns (create_table.sql:70-71, hardcoded []/None at
        arxiv_etl.py:83-84) on the resolved corpus: ``keywords`` =
        top-3 TF-IDF terms (the oracled text_keywords_tfidf operator,
        collected rank-ordered into an array) and ``topic`` = the
        pinned-artifact scorer (the oracled text_topics_score
        operator). Both joins are per-doc LEFT joins — a doc with no
        >3-char tokens keeps an empty keyword array, a doc with no
        in-vocab tokens keeps a NULL topic, exactly the reference's
        declared defaults. Deterministic (integer-only ranking, exact
        int64 topic sums), so the overwrite is byte-stable across
        reruns — the exactly-once-by-determinism contract every other
        stage rides."""
        from .operators.dsir import PINNED_DSIR_WEIGHTS, dsir_importance
        from .operators.textmodel import (
            PINNED_DOMAIN_WEIGHTS,
            classifier_scores,
        )
        from .operators.topics import PINNED_TOPIC_TERMS, topic_scores
        from .plans.extensions import tfidf_keywords
        resolved = self.spark.read.parquet(
            f"{self.root}/corpus/audited_documents.parquet")
        kw = (tfidf_keywords(resolved)
              .groupBy("doc_id")
              .agg(F.transform(
                  F.array_sort(F.collect_list(F.struct("rk", "term"))),
                  lambda s: s["term"]).alias("keywords")))
        # topic is declared TEXT in both the reference contract
        # (create_table.sql:71) and PAPER_SCHEMA (schemas.py) — cast the
        # integer topic_id so the annotated corpus matches the canonical
        # schema instead of silently diverging in type (r07 ADVICE)
        topics = (topic_scores(resolved, PINNED_TOPIC_TERMS)
                  .select("doc_id",
                          F.col("topic_id").cast("string").alias("topic")))
        # model-based enrichment (r08): the frozen quality/domain
        # classifier verdict and the DSIR importance score land as
        # columns, so downstream selection (a training-mix builder,
        # the finalize packer's input filter) can threshold without
        # re-scanning text — left joins, docs with no scorable tokens
        # keep NULLs (the reference's declared-default posture)
        quality = (classifier_scores(resolved, PINNED_DOMAIN_WEIGHTS)
                   .select("doc_id",
                           F.col("score_micros").alias("quality_micros"),
                           F.col("keep").alias("quality_keep")))
        dsir = (dsir_importance(resolved, PINNED_DSIR_WEIGHTS)
                .select("doc_id",
                        F.col("importance_micros")
                        .alias("dsir_importance_micros")))
        annotated = (
            resolved.join(kw, "doc_id", "left")
            .join(topics, "doc_id", "left")
            .join(quality, "doc_id", "left")
            .join(dsir, "doc_id", "left")
            .withColumn("keywords", F.coalesce(
                F.col("keywords"), F.array().cast("array<string>")))
        )
        annotated, obs = observed(
            annotated, with_topic=F.count("topic"),
            quality_kept=F.count_if(F.col("quality_keep")))
        annotated.write.mode("overwrite").parquet(
            f"{self.root}/corpus/annotated_documents.parquet")
        n = obs.get
        return {"annotated": n["n"], "with_topic": n["with_topic"],
                "quality_kept": n["quality_kept"]}

    def _stage_index_embeddings(self) -> dict:
        """Embed the annotated corpus and maintain the RETRIEVAL index
        behind the versioned pointer (r09 VERDICT item 3 — the ANN
        index as a ledger stage): deterministic hashing-trick
        embeddings (the oracled text_feature_hashing formulation,
        assembled dense + L2-normalized — vocabulary-free, one
        map-side-combinable shuffle) land as a corpus artifact; then
        the index lifecycle runs exactly as a deployment would —
        BOOTSTRAP (build_ivf_index + pointer_publish) when the pointer
        was never published, otherwise the incremental form: wipe
        this stage's own epoch (replay safety), bounded
        id-skip against the searchable set, upsert the fresh
        remainder, and the maintenance-due check folds/republishes/
        prunes through maintain_ivf_index when outstanding deltas
        exceed ``ann_max_deltas``. Downstream consumers (SemDeDup,
        retrieval-decontamination, kNN joins) read
        ``pointer_current(outputs()['ann_pointer'])``."""
        from .operators.joins import bounded_anti_join
        from .operators.similarity import (
            build_ivf_index,
            ivf_index_data,
            publish_gen_manifest,
            upsert_ivf_index,
        )
        from .sources.fs import fs_delete, pointer_current, pointer_publish
        from .streaming.annindex import maintain_ivf_index

        annotated = self.spark.read.parquet(
            f"{self.root}/corpus/annotated_documents.parquet")
        emb = hashed_embeddings(annotated, dim=self.emb_dim)
        if self.emb_quantize:
            # int8 storage posture (r10 VERDICT item 7): the embedding
            # artifact lands as qvec/scale/norm (4x smaller than the
            # float32 column — at 100 TB, the difference between an
            # embedding table that fits hot storage and one that
            # doesn't); every float consumer (index build, upsert,
            # search) reads through the dequantize adapter. Recall
            # delta vs the float path is gated in tests.
            from .operators.similarity import dequantize, normalize_quantize

            q8, obs = observed(normalize_quantize(emb))
            q8.write.mode("overwrite").parquet(
                f"{self.root}/corpus/embeddings_q8.parquet")
            emb = dequantize(self.spark.read.schema(q8.schema).parquet(
                f"{self.root}/corpus/embeddings_q8.parquet"))
        else:
            emb, obs = observed(emb)
            emb.write.mode("overwrite").parquet(
                f"{self.root}/corpus/embeddings.parquet")
            emb = self.spark.read.schema(emb.schema).parquet(
                f"{self.root}/corpus/embeddings.parquet")
        n_emb = obs.get["n"]

        ptr = f"{self.root}/stores/ann/ptr"
        cur = pointer_current(self.spark, ptr)
        if cur is None:
            g0 = f"{self.root}/stores/ann/index_g0"
            build_ivf_index(emb, g0, nlist=self.ann_nlist)
            pointer_publish(self.spark, ptr, g0)
            return {"indexed": n_emb, "skipped": 0,
                    "bootstrapped": True, "maintained": False}
        # replay / later-cycle path: own-epoch wipe, bounded id skip,
        # upsert only what the searchable set lacks
        if fs_delete(self.spark, f"{cur}/deltas/epoch=0"):
            publish_gen_manifest(self.spark, cur)
        indexed_ids = ivf_index_data(self.spark, cur).select("vec_id")
        fresh = bounded_anti_join(emb, indexed_ids, "vec_id")
        n_fresh = fresh.count()
        if n_fresh:
            upsert_ivf_index(fresh, cur, epoch_id=0, out_partitions=4)
        m = maintain_ivf_index(self.spark, ptr,
                               max_deltas=self.ann_max_deltas)
        return {"indexed": n_fresh,
                "skipped": n_emb - n_fresh,
                "bootstrapped": False, "maintained": m["compacted"]}

    def _stage_finalize(self) -> dict:
        """Deterministic split + greedy packing, written as the final
        training corpus (partition-pruned by split) + pack manifest.
        Packing is order-sensitive, so the input is pinned to a
        deterministic hash-partitioning + in-partition sort — a rerun
        reproduces seq_ids exactly."""
        from .operators.packing import pack_sequences
        from .operators.sampling import deterministic_split
        resolved = self.spark.read.parquet(
            f"{self.root}/corpus/annotated_documents.parquet")
        split = deterministic_split(resolved, "doc_id", self.split_fractions)
        written, obs = observed(split)
        (written.write.mode("overwrite").partitionBy("split")
         .parquet(f"{self.root}/out/corpus"))
        with_tokens = (
            split.withColumn(
                "n_tokens", F.size(F.split(F.trim(F.col("text")), WS_CLASS)))
            .repartition(4, "doc_id")
            .sortWithinPartitions("doc_id"))
        packed = pack_sequences(with_tokens, self.pack_budget)
        packed.write.mode("overwrite").parquet(
            f"{self.root}/out/packed.parquet")
        return {"final_docs": obs.get["n"],
                "sequences": self.spark.read.schema(packed.schema).parquet(
                    f"{self.root}/out/packed.parquet")
                .select("seq_id").distinct().count()}

    # --------------------------------------------------------------- outputs

    def progress_table(self) -> ControlTable:
        """The collector's per-category progress control table."""
        from .schemas import CATEGORY_PROGRESS_SCHEMA
        return ControlTable(self.spark, f"{self.root}/category_progress",
                            CATEGORY_PROGRESS_SCHEMA)

    def outputs(self) -> dict[str, str]:
        return {
            "canonical": f"{self.root}/store/papers",
            "history": f"{self.root}/store/papers_history",
            "quarantine": f"{self.root}/store/quarantine",
            "documents": f"{self.root}/corpus/documents.parquet",
            "decisions": f"{self.root}/corpus/decisions.parquet",
            "clusters": f"{self.root}/corpus/clusters.parquet",
            "resolved": f"{self.root}/corpus/resolved_documents.parquet",
            "annotated": f"{self.root}/corpus/annotated_documents.parquet",
            "span_report": f"{self.root}/corpus/span_report.parquet",
            "audited": f"{self.root}/corpus/audited_documents.parquet",
            "embeddings": (
                f"{self.root}/corpus/embeddings_q8.parquet"
                if self.emb_quantize
                else f"{self.root}/corpus/embeddings.parquet"),
            "span_store": f"{self.root}/stores/spans",
            "ann_pointer": f"{self.root}/stores/ann/ptr",
            "corpus": f"{self.root}/out/corpus",
            "packed": f"{self.root}/out/packed.parquet",
        }


def run_with_restarts(make_pipeline: Callable[[], CorpusPipeline],
                      max_restarts: int = 32) -> tuple[dict, int]:
    """Drive a pipeline to completion through any number of simulated
    crashes: each SimulatedCrash discards the in-process object (the
    'dead Lambda') and constructs a FRESH pipeline over the same root,
    which resumes from the on-disk ledger. Returns (final summary,
    number of crashes survived)."""
    crashes = 0
    while True:
        try:
            return make_pipeline().run(), crashes
        except SimulatedCrash:
            crashes += 1
            if crashes > max_restarts:
                raise
