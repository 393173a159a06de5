"""Ingest-path tests (SURVEY.md §7 Phase 2+3): gzip-JSONL source with
quarantine, canonical/history transforms, idempotent append, control
table state machine, and the exactly-once streaming drain.
"""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.dedup_store import commit_batch
from hackmd_data_pipeline_spark.plans.ingest import (
    completeness_filter, to_canonical, to_history)
from hackmd_data_pipeline_spark.schemas import (
    HISTORY_SCHEMA, PAPER_SCHEMA, RAW_BATCHES_SCHEMA)
from hackmd_data_pipeline_spark.sources.jsonl_gz import (
    read_raw_jsonl, split_quarantine)
from hackmd_data_pipeline_spark.streaming.control import (
    ControlTable, claim_pending, mark_status)
from hackmd_data_pipeline_spark.streaming.neardup import (
    run_cluster_maintained_ingest, run_neardup_ingest)
from hackmd_data_pipeline_spark.streaming.pipeline import run_ingest_stream
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_CORRECT


def _record(i: int, **overrides) -> dict:
    rec = {
        "entry_id": f"http://example.org/abs/2401.{i:05d}",
        "title": f"Paper {i}",
        "authors": [f"Author {i}", "Co Author"],
        "summary": f"Summary of paper {i}\nwith a newline",
        "primary_category": "cs.DB" if i % 2 == 0 else "cs.LG",
        "categories": ["cs.DB", "cs.LG"],
        "published": f"2024-01-{(i % 27) + 1:02d}T10:00:00Z",
        "updated": f"2024-02-{(i % 27) + 1:02d}T10:00:00+00:00",
        "journal_ref": None,
        "doi": f"10.0000/{i}" if i % 3 == 0 else None,
    }
    rec.update(overrides)
    return rec


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    """12 good rows (one duplicated id, one incomplete) + 1 corrupt line."""
    d = tmp_path_factory.mktemp("raw")
    lines = [json.dumps(_record(i), ensure_ascii=False) for i in range(10)]
    lines.append(json.dumps(_record(3)))                    # duplicate entry_id
    lines.append(json.dumps(_record(99, title="   ")))      # incomplete: blank title
    lines.append('{"entry_id": "broken", not json')         # corrupt line
    with gzip.open(d / "batch_0.jsonl.gz", "wt", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return str(d)


def test_source_quarantine_split(spark, raw_dir):
    raw = read_raw_jsonl(spark, raw_dir)
    good, bad = split_quarantine(raw)
    assert bad.count() == 1                       # O-28 dead-letter capture
    assert good.count() == 12
    assert "_corrupt_record" not in good.columns
    # lineage column present and populated (reference s3_path per row)
    assert good.filter(F.col("source_path").contains("batch_0")).count() == 12


def test_completeness_filter(spark, raw_dir):
    good, _ = split_quarantine(read_raw_jsonl(spark, raw_dir))
    kept = completeness_filter(good)
    assert kept.count() == 11                     # blank-title row dropped


def test_canonical_transform_schema_and_values(spark, raw_dir):
    good, _ = split_quarantine(read_raw_jsonl(spark, raw_dir))
    canonical = to_canonical(completeness_filter(good))
    assert [f.name for f in PAPER_SCHEMA.fields] == canonical.columns
    row = canonical.filter(F.col("entry_id").endswith("00004")).first()
    assert row.published_date.isoformat() == "2024-01-05"
    assert row.updated_date.isoformat() == "2024-02-05"
    assert row.version == 1 and row.keywords == [] and row.topic is None
    assert row.affiliations == {} and row.links == {}
    # both ISO offset forms parsed (Z and +00:00)
    assert row.published is not None and row.updated is not None


def test_history_transform(spark, raw_dir):
    good, _ = split_quarantine(read_raw_jsonl(spark, raw_dir))
    hist = to_history(to_canonical(completeness_filter(good)), etl_stage="test")
    assert [f.name for f in HISTORY_SCHEMA.fields] == hist.columns
    rows = hist.collect()
    assert len({r.history_id for r in rows}) == len(rows)   # uuid unique
    assert all("\n" not in r.summary for r in rows)         # scrub (O-12)
    assert all(r.operation_type == "insert" and r.etl_stage == "test" for r in rows)


# ---------------------------------------------------------------- control


def _seed_batches(spark, n=7):
    from .conftest import local_df

    rows = [
        (f"b{i:03d}", "cs.DB", f"raw/cs_DB/b{i:03d}.jsonl.gz", 100,
         None, "pending", None, None, None)
        for i in range(n)
    ]
    return local_df(spark, rows, RAW_BATCHES_SCHEMA)


def test_control_table_claim_and_status(spark, tmp_path):
    table = ControlTable(spark, str(tmp_path / "raw_batches"), RAW_BATCHES_SCHEMA)
    table.write(_seed_batches(spark).toArrow())

    claimed = claim_pending(table, 3)
    keys = sorted(r.batch_id for r in claimed.collect())
    assert keys == ["b000", "b001", "b002"]       # FIFO by key (O-24/O-32)
    state = {r.batch_id: r.etl_status for r in table.read().collect()}
    assert all(state[k] == "processing" for k in keys)
    assert sum(v == "pending" for v in state.values()) == 4

    # claim again -> next 3, no overlap (the SKIP LOCKED semantics)
    second = sorted(r.batch_id for r in claim_pending(table, 3).collect())
    assert second == ["b003", "b004", "b005"]

    mark_status(table, ["b000", "b001"], "finished")
    mark_status(table, ["b002"], "failed", error_msg="boom")
    final = {r.batch_id: r for r in table.read().collect()}
    assert final["b000"].etl_status == "finished"
    assert final["b000"].etl_finished_at is not None
    assert final["b002"].error_msg == "boom"
    assert final["b003"].etl_status == "processing"  # untouched by mark


def test_control_table_generation_gc(spark, tmp_path):
    import os
    table = ControlTable(spark, str(tmp_path / "gc"), RAW_BATCHES_SCHEMA)
    for _ in range(4):
        table.write(_seed_batches(spark, n=2).toArrow())
    gens = [d for d in os.listdir(table.root) if d.startswith("gen=")]
    assert len(gens) <= 2                         # old generations GC'd
    assert table.read().count() == 2


def test_control_table_read_returns_declared_schema(spark, tmp_path):
    """Schema contract: ControlTable.read() is typed by exactly the
    declared StructType (nullability included) on the empty-generation
    branch and on the parquet branch, so ``.to(schema)`` holds on both."""
    from hackmd_data_pipeline_spark.etl import STAGE_LEDGER_SCHEMA

    for schema, seed in ((RAW_BATCHES_SCHEMA, _seed_batches(spark)),
                         (STAGE_LEDGER_SCHEMA, None)):
        table = ControlTable(spark, str(tmp_path / schema.fields[0].name), schema)
        empty = table.read()
        assert empty.schema == schema
        assert empty.to(schema).count() == 0
        table.write((seed if seed is not None else empty).toArrow())
        written = table.read()
        assert written.schema == schema
        assert written.to(schema).count() == (0 if seed is None else seed.count())


def test_control_table_read_launches_no_job(spark, tmp_path):
    """The driver reads a generation through Arrow into a local
    relation: neither the empty branch nor the parquet branch costs a
    Spark job, and the snapshot collects without one either."""
    from .conftest import jobs_launched

    table = ControlTable(spark, str(tmp_path / "jobs"), RAW_BATCHES_SCHEMA)
    assert jobs_launched(spark, table.read) == 0
    table.write(_seed_batches(spark).toArrow())
    snap = []
    assert jobs_launched(spark, lambda: snap.append(table.read())) == 0
    assert jobs_launched(spark, snap[0].collect) == 0
    assert snap[0].count() == 7


def test_control_table_timestamps_survive_non_utc_session(spark, tmp_path,
                                                          monkeypatch):
    """A written ``updated_at`` reads back as the same instant when
    both the driver process and the Spark session run in a non-UTC
    zone — for generations written through Arrow and for one written
    by Spark itself (INT96, which Arrow reads tz-naive)."""
    import os
    import time

    from hackmd_data_pipeline_spark.etl import STAGE_LEDGER_SCHEMA

    epoch = 1767225600                      # 2026-01-01T00:00:00Z
    prior_tz = spark.conf.get("spark.sql.session.timeZone")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        row = spark.range(1).select(
            F.lit("s").alias("stage"), F.lit("finished").alias("status"),
            F.lit(1).alias("attempt"),
            F.timestamp_seconds(F.lit(epoch)).alias("updated_at"))
        table = ControlTable(spark, str(tmp_path / "tz"), STAGE_LEDGER_SCHEMA)
        table.write(row.toArrow())
        legacy = ControlTable(spark, str(tmp_path / "legacy"),
                              STAGE_LEDGER_SCHEMA)
        row.coalesce(1).write.parquet(os.path.join(legacy.root, "gen=0"))
        with open(os.path.join(legacy.root, "_CURRENT"), "w") as f:
            f.write("0")
        for t in (table, legacy):
            back = t.read()
            assert back.select(F.unix_seconds("updated_at")).first()[0] == epoch
            assert back.first().updated_at.timestamp() == epoch
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior_tz)
        monkeypatch.undo()
        time.tzset()


# --------------------------------------------------------------- streaming


def _ingest_raw(spark, tmp_path, raw_dir):
    return lambda: run_ingest_stream(spark, raw_dir, str(tmp_path / "out"),
                                     str(tmp_path / "ckpt"))


def _docs_drop(spark, tmp_path):
    path = str(tmp_path / "in")
    (load_table(spark, SF_CORRECT, "documents").filter(F.col("doc_id") < 60)
     .coalesce(1).write.parquet(path))
    return path


def _ingest_docs(run):
    def prepare(spark, tmp_path, raw_dir):
        docs = _docs_drop(spark, tmp_path)
        return lambda: run(spark, docs, str(tmp_path / "out"),
                           str(tmp_path / "ckpt"), str(tmp_path / "store"))
    return prepare


def _commit_batch(spark, tmp_path, raw_dir):
    docs = spark.read.parquet(_docs_drop(spark, tmp_path))
    return lambda: commit_batch(docs, str(tmp_path / "store"), 0)


_OFF_THREAD_WORK = {
    "run_ingest_stream": _ingest_raw,
    "run_neardup_ingest": _ingest_docs(run_neardup_ingest),
    "run_cluster_maintained_ingest":
        _ingest_docs(run_cluster_maintained_ingest),
    "commit_batch": _commit_batch,
}


def _last_job(sc) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())),
               default=-1)


@pytest.mark.parametrize("work", sorted(_OFF_THREAD_WORK))
def test_ingest_jobs_run_in_callers_job_group(spark, raw_dir, tmp_path, work):
    """Micro-batches run on the stream's thread and ``commit_batch``'s
    writes on pool threads, yet every job each launches belongs to the
    caller's job group."""
    import uuid

    sc = spark.sparkContext
    run = _OFF_THREAD_WORK[work](spark, tmp_path, raw_dir)
    group = f"ingest-{uuid.uuid4().hex}"
    first = _last_job(sc) + 1
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    launched = set(range(first, _last_job(sc) + 1))
    assert launched
    assert launched <= set(sc.statusTracker().getJobIdsForGroup(group))


def test_clean_ingest_batch_runs_no_job_after_its_sinks(spark, tmp_path,
                                                        monkeypatch):
    """A micro-batch with no corrupt row finds that out from the
    checkpoint job's observed count: after its canonical and history
    writes it launches no further job (no quarantine count or read)."""
    from hackmd_data_pipeline_spark.streaming import pipeline as P

    raw = tmp_path / "raw_clean"
    raw.mkdir()
    with gzip.open(raw / "clean.jsonl.gz", "wt", encoding="utf-8") as f:
        f.write("\n".join(json.dumps(_record(i)) for i in range(6)) + "\n")
    sc = spark.sparkContext
    after_sinks, at_hook = [], []
    real_write = P.write_partitioned_parquet

    def write(df, path, **kw):
        real_write(df, path, **kw)
        after_sinks.append(_last_job(sc))

    monkeypatch.setattr(P, "write_partitioned_parquet", write)
    counts = run_ingest_stream(
        spark, str(raw), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        batch_hook=lambda epoch: at_hook.append(_last_job(sc)))
    assert counts == {"canonical": 6, "history": 6, "quarantine": 0}
    assert len(after_sinks) == 2 and len(at_hook) == 1
    assert at_hook[0] == after_sinks[-1]
    assert not (tmp_path / "out" / "quarantine").exists()


def test_streaming_ingest_exactly_once(spark, raw_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    counts = run_ingest_stream(spark, raw_dir, out, ckpt)
    assert counts["canonical"] == 10              # completeness + in-batch dedup
    assert counts["quarantine"] == 1
    papers = spark.read.parquet(f"{out}/papers")
    assert papers.count() == 10
    # partition layout: primary_category is a partition column (O-3/§1.4)
    assert papers.filter(F.col("primary_category") == "cs.DB").count() > 0

    # same checkpoint -> file already claimed -> nothing new (O-24)
    again = run_ingest_stream(spark, raw_dir, out, ckpt)
    assert again == {"canonical": 0, "history": 0, "quarantine": 0}
    assert spark.read.parquet(f"{out}/papers").count() == 10


def test_streaming_ingest_crash_between_sinks(spark, tmp_path, monkeypatch):
    """Round-5 review fix: a crash BETWEEN the canonical write and the
    history write must repair on replay. The old form derived history
    from the canonical anti-join's survivors, so the replay found the
    ids already in canonical and wrote history NOWHERE — the audit
    rows were lost forever. Each sink now anti-joins its OWN store;
    here the history write is made to crash after canonical committed,
    and the restarted stream must backfill exactly the missing history
    rows (no canonical dups, no history dups, no gaps)."""
    import gzip

    from hackmd_data_pipeline_spark.streaming import pipeline as P

    raw = tmp_path / "raw_bs"
    raw.mkdir()
    out, ckpt = str(tmp_path / "out_bs"), str(tmp_path / "ckpt_bs")
    with gzip.open(raw / "file_a.jsonl.gz", "wt", encoding="utf-8") as f:
        f.write("\n".join(json.dumps(_record(i)) for i in range(6)) + "\n")

    real_write = P.write_partitioned_parquet

    def crash_on_history(df, path, **kw):
        if path.endswith("papers_history"):
            raise RuntimeError("simulated crash before history commit")
        return real_write(df, path, **kw)

    monkeypatch.setattr(P, "write_partitioned_parquet", crash_on_history)
    try:
        run_ingest_stream(spark, str(raw), out, ckpt)
    except Exception:
        pass  # the injected crash propagates out of the stream
    # canonical committed, history did not, checkpoint not advanced
    assert spark.read.parquet(f"{out}/papers").count() == 6
    with pytest.raises(Exception):
        spark.read.parquet(f"{out}/papers_history").count()

    monkeypatch.setattr(P, "write_partitioned_parquet", real_write)
    counts = run_ingest_stream(spark, str(raw), out, ckpt)
    # replay: canonical self-anti-join drops all 6, history backfills
    assert counts["canonical"] == 0
    assert counts["history"] == 6
    papers = spark.read.parquet(f"{out}/papers")
    hist = spark.read.parquet(f"{out}/papers_history")
    assert papers.count() == 6 and hist.count() == 6
    assert papers.select("entry_id").distinct().count() == 6
    assert hist.select("entry_id").distinct().count() == 6
    assert (papers.select("entry_id")
            .exceptAll(hist.select("entry_id")).count()) == 0


def test_streaming_ingest_cross_batch_dedup(spark, tmp_path):
    """A duplicate entry_id arriving in a LATER raw file (a new
    micro-batch) must not be appended again — the reference's ON
    CONFLICT DO NOTHING primary-key semantics (pg_engine.py:113),
    implemented as the bounded-lookback anti-join in
    run_ingest_stream. Also checks per-file lineage: source_path must
    name the actual file, not the glob root."""
    raw = tmp_path / "raw2"
    raw.mkdir()
    out, ckpt = str(tmp_path / "out2"), str(tmp_path / "ckpt2")

    with gzip.open(raw / "file_a.jsonl.gz", "wt", encoding="utf-8") as f:
        f.write("\n".join(json.dumps(_record(i)) for i in range(5)) + "\n")
    first = run_ingest_stream(spark, str(raw), out, ckpt)
    assert first["canonical"] == 5

    # file B: one duplicate of id 3 (different title — still a dup by
    # key) + one genuinely new record
    with gzip.open(raw / "file_b.jsonl.gz", "wt", encoding="utf-8") as f:
        f.write(json.dumps(_record(3, title="Paper 3 resubmitted")) + "\n")
        f.write(json.dumps(_record(20)) + "\n")
    second = run_ingest_stream(spark, str(raw), out, ckpt)
    assert second["canonical"] == 1               # only the new id

    papers = spark.read.parquet(f"{out}/papers")
    assert papers.count() == 6
    assert papers.filter(F.col("entry_id").endswith("00003")).count() == 1
    # lineage points at the real files
    paths = {r.s3_path.rsplit("/", 1)[-1] for r in papers.select("s3_path").collect()}
    assert paths == {"file_a.jsonl.gz", "file_b.jsonl.gz"}


def test_streaming_ingest_pinned_past_timestamp_dedups(spark, tmp_path):
    """Reprocessing posture (r05 ADVICE): when etl_timestamp is pinned
    to a constant FAR outside the lookback window of the wall clock,
    the dedup build side must still see the pinned-stamped store rows —
    _store_ids anchors the lookback at LEAST(now, pin). Without the
    anchor every stored id silently expires out of the anti-join and a
    later duplicate re-ingests."""
    raw = tmp_path / "raw3"
    raw.mkdir()
    out = str(tmp_path / "out3")
    pin = F.lit("2020-06-01 00:00:00").cast("timestamp")  # years past

    with gzip.open(raw / "file_a.jsonl.gz", "wt", encoding="utf-8") as f:
        f.write("\n".join(json.dumps(_record(i)) for i in range(4)) + "\n")
    first = run_ingest_stream(spark, str(raw), out, str(tmp_path / "ck3a"),
                              lookback="180 days", etl_timestamp=pin)
    assert first["canonical"] == 4

    # duplicate id 2 arrives in a later file; a FRESH checkpoint also
    # replays file_a — every record is already stored, stamped with a
    # pin ~6 years outside the 180-day lookback of the wall clock, so
    # nothing may re-ingest
    with gzip.open(raw / "file_b.jsonl.gz", "wt", encoding="utf-8") as f:
        f.write(json.dumps(_record(2, title="resubmitted")) + "\n")
    second = run_ingest_stream(spark, str(raw), out, str(tmp_path / "ck3b"),
                               lookback="180 days", etl_timestamp=pin)
    assert second["canonical"] == 0
    papers = spark.read.parquet(f"{out}/papers")
    assert papers.count() == 4
    assert papers.filter(F.col("entry_id").endswith("00002")).count() == 1


def test_streaming_quarantine_partial_append_replays_rest(spark, tmp_path):
    """Quarantine replay dedup keys on ROW identity, not source_path
    alone (r05 ADVICE): if a crash left only SOME of a file's corrupt
    rows visible in the quarantine store, the replay must append the
    file's remaining corrupt rows instead of dropping them forever."""
    raw = tmp_path / "raw4"
    raw.mkdir()
    out = str(tmp_path / "out4")
    qpath = f"{out}/quarantine"

    with gzip.open(raw / "bad.jsonl.gz", "wt", encoding="utf-8") as f:
        f.write('{"entry_id": broken-one}\n')
        f.write('{"entry_id": broken-two}\n')
        f.write(json.dumps(_record(1)) + "\n")

    # Simulate the partially-visible append: pre-seed the quarantine
    # with ONE of the file's two corrupt rows, as a crashed direct
    # committer would leave it.
    run_ingest_stream(spark, str(raw), str(tmp_path / "probe"),
                      str(tmp_path / "ck4probe"))
    all_bad = spark.read.parquet(f"{tmp_path}/probe/quarantine")
    assert all_bad.count() == 2
    one = all_bad.orderBy("_corrupt_record").limit(1)
    one.write.mode("overwrite").parquet(qpath)

    counts = run_ingest_stream(spark, str(raw), out, str(tmp_path / "ck4"))
    # only the MISSING corrupt row is appended on replay
    assert counts["quarantine"] == 1
    q = spark.read.parquet(qpath)
    assert q.count() == 2
    assert q.select("_corrupt_record").distinct().count() == 2


def test_csv_source_quarantine_split(spark, tmp_path):
    """Delimited-text twin of the JSONL dead-letter split: bad rows
    (wrong arity / unparseable types) land in quarantine with lineage,
    good rows parse with the explicit schema."""
    import gzip

    from pyspark.sql import types as T

    from hackmd_data_pipeline_spark.sources.csv_src import (
        read_delimited, split_quarantine)

    p = tmp_path / "batch.csv.gz"
    lines = [
        "entry_id,n_authors,published",
        "a1,3,2024-01-01 10:00:00",
        "a2,not_a_number,2024-01-02 11:00:00",   # bad int
        "a3,5,2024-01-03 12:00:00",
    ]
    with gzip.open(p, "wt") as f:
        f.write("\n".join(lines))

    schema = T.StructType([
        T.StructField("entry_id", T.StringType()),
        T.StructField("n_authors", T.IntegerType()),
        T.StructField("published", T.TimestampType()),
    ])
    good, bad = split_quarantine(read_delimited(spark, str(p), schema))
    assert {r.entry_id for r in good.collect()} == {"a1", "a3"}
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "not_a_number" in bad_rows[0]._corrupt_record
    assert bad_rows[0].source_path.endswith("batch.csv.gz")


def test_orc_roundtrip_preserves_schema_and_values(spark, tmp_path):
    """Format breadth: the canonical store is parquet+zstd, but ORC is
    a first-class interchange format — a schema-stable roundtrip must
    be lossless (arrays and NTZ timestamps included)."""
    from .conftest import SF_CORRECT

    from hackmd_data_pipeline_spark.tables import load_table

    src = load_table(spark, SF_CORRECT, "orders").limit(500)
    dest = str(tmp_path / "orders_orc")
    src.write.format("orc").option("compression", "zstd").save(dest)
    back = spark.read.format("orc").load(dest)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Lake reality: later ingest batches grow columns. mergeSchema
    unifies old+new footers; absent columns read as NULL, and explicit
    column selection keeps pruning intact."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "id long, title string").write.parquet(p + "/batch=1")
    spark.createDataFrame(
        [(2, "b", "en")], "id long, title string, lang string"
    ).write.parquet(p + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "title", "lang", "batch"}
    rows = {r.id: (r.title, r.lang) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", "en")}
    # old-schema rows are filterable on the new column (NULL semantics)
    assert merged.filter(F.col("lang").isNull()).count() == 1


def test_canonical_writer_rowgroup_stats_are_skippable(spark, tmp_path):
    """The §1.4 index substitute made measurable: sortWithinPartitions
    on the date column must yield parquet row groups whose min/max
    spans are narrow and monotonically ordered — the property min/max
    skipping needs. Written with a small block size to force several
    row groups per file, then inspected via pyarrow metadata."""
    import glob

    import pyarrow.parquet as pq

    from hackmd_data_pipeline_spark.sources.writers import (
        write_partitioned_parquet)
    from hackmd_data_pipeline_spark.tables import load_table

    from .conftest import SF_CORRECT

    o = (load_table(spark, SF_CORRECT, "orders")
         .withColumnRenamed("o_orderpriority", "primary_category")
         .withColumnRenamed("o_orderdate", "published_date")
         .coalesce(1))
    dest = str(tmp_path / "canonical")
    write_partitioned_parquet(
        o, dest, mode="overwrite",
        extra_options={"parquet.block.size": 64 * 1024})

    files = glob.glob(dest + "/primary_category=*/*.parquet")
    assert files, "no partitioned files written"
    multi = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        schema_names = meta.schema.to_arrow_schema().names
        col_idx = schema_names.index("published_date")
        spans = []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(col_idx).statistics
            spans.append((st.min, st.max))
        if len(spans) > 1:
            multi += 1
            # sorted write => row groups ordered and pairwise
            # non-overlapping (max of group i <= min of group i+1)
            for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
                assert hi1 <= lo2, f"overlapping row groups in {f}: {spans}"
    assert multi > 0, "block size did not force multiple row groups"
