"""Composed-pipeline exactly-once: collect → ingest → curate →
resolve → split/pack as ONE restartable chain, killed at every stage
boundary (and inside an ingest micro-batch) and restarted, with the
final outputs compared row-for-row against an uninterrupted run.

This is the reference's essential end-to-end property — the Lambda
chain survives death between any two steps of claim → transform →
sink → status-flip (reference src/etl/arxiv_etl.py:181-204,
src/extract/arxiv_collector.py:211-330) — proven over the repo's own
state machine (etl.py stage ledger + streaming checkpoint +
deterministic overwrite stages). Round-4 VERDICT "Next round" item 1.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.etl import (
    CorpusPipeline,
    SimulatedCrash,
    run_with_restarts,
)

# --------------------------------------------------------------- fixture data
# A corpus that exercises every stage: cross-category duplicate ids
# (collector dedup), an incomplete record (completeness drop), exact
# text duplicates (curation exact_dup), a 3-member near-dup cluster
# (LSH resolve), short / low-stopword docs (quality verdicts), and a
# planted corrupt raw file (quarantine).

CATEGORIES = ["cs.AI", "cs.LG", "stat.ML"]


def _para(i: int) -> str:
    """Distinct-content paragraph: plenty of stopwords (quality pass)
    but per-doc content words, so two different paragraphs share only
    a handful of boundary shingles (jaccard << 0.3 — NOT near-dups).
    A shared-template body with only a number varying would make every
    fixture doc a near-dup of every other and collapse the planted
    3-member cluster into one giant one."""
    words = [f"subj{i * 31 + j}x" for j in range(18)]
    return ("the study of " + " and the ".join(words[:9])
            + " is presented with results for "
            + " and for the ".join(words[9:])
            + f" in depth under heading {i * 7}")


def _rec(entry_id: str, title: str, summary: str, cat: str) -> dict:
    return {
        "entry_id": entry_id, "title": title,
        "authors": ["Alice Writer", "Bob Author"],
        "summary": summary, "primary_category": cat,
        "categories": [cat], "published": "2026-01-05T00:00:00Z",
        "updated": "2026-01-06T00:00:00Z",
        "journal_ref": None, "doi": None, "_corrupt_record": None,
    }


_NEAR_CORE = _para(200)
_LOWSTOP = " ".join(f"zxqv{j} wordlike{j} token{j}" for j in range(9))

FIXTURE = {
    "cs.AI": [
        _rec("A1", "Paper A1", _para(1), "cs.AI"),
        _rec("A2", "Paper A2", _para(2), "cs.AI"),
        _rec("DUP-X", "Paper DUP-X", _para(100), "cs.AI"),
        _rec("A4", "A near duplicate paper", _NEAR_CORE + " alpha", "cs.AI"),
        _rec("A5", "An exact duplicate paper", _para(50), "cs.AI"),
        _rec("A6", "Short", "too few words here", "cs.AI"),
        _rec("A7", "Lowstop", _LOWSTOP, "cs.AI"),
    ],
    "cs.LG": [
        _rec("DUP-X", "Paper DUP-X", _para(100), "cs.LG"),  # same id → dropped
        _rec("L1", "Paper L1", _para(11), "cs.LG"),
        _rec("L2", "A near duplicate paper", _NEAR_CORE + " beta", "cs.LG"),
        _rec("L3", "An exact duplicate paper", _para(50), "cs.LG"),
        _rec("L4", "Incomplete", "", "cs.LG"),              # empty summary → dropped
    ],
    "stat.ML": [
        _rec("S1", "Paper S1", _para(21), "stat.ML"),
        _rec("S2", "Paper S2", _para(22), "stat.ML"),
        _rec("S3", "A near duplicate paper", _NEAR_CORE + " gamma", "stat.ML"),
        # quote MOSAIC (r09 audit_spans stage): 40 verbatim tokens from
        # each of two different papers — pairwise Jaccard vs either
        # parent ~0.3 (below the 0.5 LSH threshold, so resolve keeps
        # it) but span coverage ~0.95 (above max_dup_fraction, so the
        # exact-substring audit drops it)
        _rec("M1", "Mosaic",
             " ".join(_para(1).split()[:40]) + " "
             + " ".join(_para(11).split()[:40]), "stat.ML"),
    ],
}

# 16 fetched records, minus 1 cross-category dup, minus 1 incomplete:
N_CANONICAL = 14
# exact-dup pair loses 1 (curate), near-dup trio loses 2 (resolve),
# short + lowstop lose 2 (curate):
N_RESOLVED = N_CANONICAL - 1 - 2 - 2
# the quote mosaic survives LSH resolve but falls to the span audit:
N_AUDITED = N_RESOLVED - 1


def _fetch(cat: str, max_results: int):
    return FIXTURE[cat]


def _plant_corrupt(root: str) -> None:
    d = f"{root}/raw/_cat=seed/_ingest_date=2026-01-01"
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/bad.json", "w") as f:
        f.write('{"entry_id": definitely not json\n')


# ----------------------------------------------------------------- comparison

def _norm_path(v: str, root: str) -> str:
    """Make lineage paths run-comparable: strip the run root and the
    writer's per-task UUID file basename (the partition directory — the
    meaningful lineage — is preserved)."""
    v = v.replace(f"file://{root}", "<root>").replace(root, "<root>")
    return re.sub(r"part-\d+-[0-9a-f][0-9a-f\-]+", "part-X", v)


def _snapshot(spark, p: CorpusPipeline) -> dict:
    """Deterministic row-set snapshot of every pipeline output."""
    o, root = p.outputs(), p.root
    out: dict = {}
    canon = spark.read.parquet(o["canonical"])
    out["canonical"] = sorted(
        tuple(_norm_path(str(v), root) for v in row)
        for row in canon.orderBy("entry_id").collect())
    hist = spark.read.parquet(o["history"])
    out["history"] = sorted(
        (r.entry_id, r.title, r.summary, r.etl_stage, r.operation_type,
         _norm_path(r.s3_path, root))
        for r in hist.collect())
    out["quarantine"] = sorted(
        (_norm_path(r.source_path, root), r._corrupt_record)
        for r in spark.read.parquet(o["quarantine"]).collect())
    for name in ("documents", "decisions", "clusters", "resolved",
                 "annotated", "span_report", "audited", "embeddings",
                 "corpus", "packed"):
        out[name] = sorted(
            tuple(str(v) for v in row)
            for row in spark.read.parquet(o[name]).collect())
    # the two frontier stores (r09): the span store's committed
    # witness rows + ledger, and the ANN index's searchable set
    # through the pointer — deterministic across kill/restart
    out["span_store"] = sorted(
        (r.doc_id, r.h)
        for r in spark.read.parquet(o["span_store"] + "/spans").collect())
    out["span_ledger"] = sorted(
        r.doc_id
        for r in spark.read.parquet(o["span_store"] + "/docs").collect())
    from hackmd_data_pipeline_spark.operators.similarity import (
        ivf_index_data)
    from hackmd_data_pipeline_spark.sources.fs import pointer_current
    cur = pointer_current(spark, o["ann_pointer"])
    assert cur is not None
    out["ann_searchable"] = sorted(
        (r.vec_id, int(r.cell))
        for r in ivf_index_data(spark, cur)
        .select("vec_id", "cell").collect())
    out["ledger"] = {r.stage: r.status for r in p.ledger.read().collect()}
    out["progress"] = sorted(
        (r.category_name, r.status)
        for r in p.progress_table().read().collect())
    return out


KILL_SCRIPT = [
    ("claimed", "collect"),
    ("done", "collect"),
    ("batch", "ingest:0"),          # sinks written, checkpoint uncommitted
    ("done", "ingest"),
    ("claimed", "build_documents"),
    ("done", "curate"),
    ("done", "resolve"),
    ("claimed", "audit_spans"),
    ("done", "audit_spans"),     # spans committed, ledger not flipped
    ("done", "annotate"),
    ("claimed", "index_embeddings"),
    ("done", "index_embeddings"),  # pointer published, ledger not flipped
    ("done", "finalize"),
]


def test_composed_pipeline_kill_restart_exactly_once(spark, tmp_path):
    root_a = str(tmp_path / "clean")
    root_b = str(tmp_path / "faulty")
    _plant_corrupt(root_a)
    _plant_corrupt(root_b)

    clean = CorpusPipeline(spark, root_a, _fetch, CATEGORIES)
    summary_a = clean.run()
    assert all(not str(v).startswith("skipped") for v in summary_a.values())

    script = list(KILL_SCRIPT)

    def hook(point: str, stage: str) -> None:
        if script and script[0] == (point, stage):
            script.pop(0)
            raise SimulatedCrash(f"killed at {point}:{stage}")

    def make() -> CorpusPipeline:
        return CorpusPipeline(spark, root_b, _fetch, CATEGORIES,
                              fault_hook=hook)

    summary_b, crashes = run_with_restarts(make)
    assert crashes == len(KILL_SCRIPT) and not script

    faulty = CorpusPipeline(spark, root_b, _fetch, CATEGORIES)
    snap_a = _snapshot(spark, clean)
    snap_b = _snapshot(spark, faulty)

    # the headline: byte-for-byte (modulo root path) identical outputs
    for key in snap_a:
        assert snap_a[key] == snap_b[key], (
            f"{key} diverged between clean and kill/restart runs")

    # and the outputs are the RIGHT outputs, not merely equal:
    assert len(snap_a["canonical"]) == N_CANONICAL          # dup id + incomplete dropped
    assert len(snap_a["history"]) == N_CANONICAL            # exactly one audit row each
    assert len(snap_a["quarantine"]) == 1                   # replayed batch did not double it
    assert snap_a["ledger"] == {s: "finished" for s in CorpusPipeline.STAGES}

    dec = spark.read.parquet(faulty.outputs()["decisions"])
    verdicts = {r.verdict: r.n for r in
                dec.groupBy("verdict").agg(F.count("*").alias("n")).collect()}
    assert verdicts.get("exact_dup") == 1
    assert verdicts.get("too_short") == 1

    # the annotate stage populated the reference's declared
    # keywords/topic columns (create_table.sql:70-71) — non-null
    # arrays, topics inside the pinned model's label space
    ann_df = spark.read.parquet(faulty.outputs()["annotated"])
    # topic is TEXT in the reference contract and PAPER_SCHEMA — the
    # annotate stage must not diverge in type (r07 ADVICE)
    assert dict(ann_df.dtypes)["topic"] == "string"
    ann = ann_df.collect()
    assert all(r.keywords is not None and len(r.keywords) <= 3 for r in ann)
    assert all(r.topic is None or r.topic in {"0", "1", "2", "3", "4"}
               for r in ann)
    # r08 model-based enrichment: the frozen classifier verdict and
    # the DSIR importance ride the same stage (exact int64 scores;
    # NULL only when a doc has no scorable tokens)
    assert all(r.quality_keep == (r.quality_micros > 0)
               for r in ann if r.quality_micros is not None)
    assert any(r.dsir_importance_micros is not None for r in ann)
    # the final corpus carries the annotations through finalize
    out_cols = spark.read.parquet(faulty.outputs()["corpus"]).columns
    assert {"keywords", "topic"} <= set(out_cols)
    assert verdicts.get("low_stopword") == 1

    clusters = spark.read.parquet(faulty.outputs()["clusters"])
    sizes = [r.n for r in clusters.groupBy("cluster_id")
             .agg(F.count("*").alias("n")).collect()]
    assert sizes == [3], f"expected one 3-member near-dup cluster, got {sizes}"
    assert len(snap_a["resolved"]) == N_RESOLVED

    # the span audit (r09): exactly the quote mosaic falls — LSH kept
    # it (pairwise Jaccard vs either parent ~0.3), the exact-substring
    # store caught its ~95% verbatim coverage; survivors' spans + the
    # doc ledger are committed, the index covers every audited doc
    assert len(snap_a["audited"]) == N_AUDITED
    rep = spark.read.parquet(faulty.outputs()["span_report"])
    dropped = {r.doc_id for r in
               rep.filter(F.col("dup_fraction") > faulty.max_dup_fraction)
               .collect()}
    mosaic_id = next(
        r.doc_id for r in
        spark.read.parquet(faulty.outputs()["documents"])
        .filter(F.col("entry_id") == "M1").collect())
    assert dropped == {mosaic_id}
    assert len(snap_a["span_ledger"]) == N_AUDITED
    assert len(snap_a["embeddings"]) == N_AUDITED
    assert {v for (v, _) in snap_a["ann_searchable"]} == {
        v for (v,) in ((r.vec_id,) for r in
                       spark.read.parquet(faulty.outputs()["embeddings"])
                       .select("vec_id").collect())}

    packed = spark.read.parquet(faulty.outputs()["packed"])
    over_budget = (packed.groupBy("seq_id")
                   .agg(F.sum("n_tokens").alias("t"),
                        F.max(F.col("overflow").cast("int")).alias("o"))
                   .filter((F.col("t") > faulty.pack_budget)
                           & (F.col("o") == 0)).count())
    assert over_budget == 0

    # the interrupted run really did redo work: crashed stages carry
    # more attempts than the clean run's single pass
    attempts = {r.stage: r.attempt for r in faulty.ledger.read().collect()}
    assert attempts["collect"] >= 3      # claimed-kill + done-kill + success
    assert attempts["ingest"] >= 3       # batch-kill + done-kill + success
    assert attempts["finalize"] >= 2


def test_ledger_mark_launches_at_most_one_job(spark, tmp_path):
    """A ledger flip is the driver's Arrow write of its generation and
    nothing else: no Spark job at all."""
    from .conftest import jobs_launched

    p = CorpusPipeline(spark, str(tmp_path / "mark"), _fetch, CATEGORIES)
    for status in ("processing", "finished"):
        assert jobs_launched(
            spark, lambda: p._mark("collect", status, 1)) == 0
    assert {r.stage: r.status for r in p.ledger.read().collect()} == {
        "collect": "finished"}


def test_audit_spans_counts_input_when_every_doc_dropped(spark, tmp_path):
    """With every doc above ``max_dup_fraction`` the audit keeps none,
    and the stage still reports each input doc as dropped."""
    texts = ["alpha beta gamma delta epsilon zeta eta theta iota kappa"] * 3
    p = CorpusPipeline(spark, str(tmp_path / "audit"), _fetch, CATEGORIES,
                       span_k=4, max_dup_fraction=0.5)
    spark.createDataFrame(
        [(i, f"id{i}", t, "en", "cs.CL", len(t)) for i, t in enumerate(texts)],
        "doc_id long, entry_id string, text string, lang string, "
        "source string, n_chars int",
    ).write.parquet(p.outputs()["resolved"])
    assert p._stage_audit_spans() == {"audited_kept": 0,
                                      "dropped_verbatim": 3}
    assert spark.read.parquet(p.outputs()["audited"]).count() == 0


@pytest.fixture(scope="module", params=[False, True], ids=["float", "q8"])
def clean_run(request, spark, tmp_path_factory):
    """One uninterrupted run per embedding storage posture, with every
    ``ledger.read`` call counted."""
    p = CorpusPipeline(spark, str(tmp_path_factory.mktemp("clean")), _fetch,
                       CATEGORIES, emb_quantize=request.param)
    reads = []
    read = p.ledger.read
    p.ledger.read = lambda: reads.append(1) or read()
    summary = p.run()
    p.ledger.read = read
    return p, summary, len(reads)


def test_run_reads_ledger_once(clean_run):
    _, _, n_reads = clean_run
    assert n_reads == 1


def test_run_summary_counts_match_outputs(spark, clean_run):
    """Every count a stage reports equals a read-back count of the
    output it wrote."""
    p, summary, _ = clean_run
    o = p.outputs()

    def n(name: str, where=None) -> int:
        df = spark.read.parquet(o.get(name) or f"{p.root}/corpus/{name}")
        return (df if where is None else df.filter(where)).count()

    assert summary["ingest"] == {"canonical": n("canonical"),
                                 "history": n("history"),
                                 "quarantine": 0}
    assert summary["build_documents"] == {"documents": n("documents")}
    assert summary["curate"] == {"kept": n("kept_documents.parquet")}
    assert summary["resolve"] == {"resolved": n("resolved")}
    assert summary["audit_spans"] == {
        "audited_kept": n("audited"),
        "dropped_verbatim": n("resolved") - n("audited")}
    assert summary["annotate"] == {
        "annotated": n("annotated"),
        "with_topic": n("annotated", F.col("topic").isNotNull()),
        "quality_kept": n("annotated", F.col("quality_keep"))}
    assert summary["index_embeddings"] == {
        "indexed": n("embeddings"), "skipped": 0,
        "bootstrapped": True, "maintained": False}
    assert summary["finalize"] == {
        "final_docs": n("corpus"),
        "sequences": spark.read.parquet(o["packed"])
        .select("seq_id").distinct().count()}
    assert (summary["curate"]["kept"], summary["resolve"]["resolved"],
            summary["audit_spans"]["audited_kept"]) == (
        N_RESOLVED + 2, N_RESOLVED, N_AUDITED)
