"""Collector orchestration end-to-end: fake rate-limited source ->
dedup -> partitioned gzip-JSONL -> category state machine -> run stats
-> drain loop; then the ETL streaming drain consumes the collector's
output (full pipeline round trip).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.collector import Collector
from hackmd_data_pipeline_spark.schemas import RAW_RECORD_SCHEMA
from hackmd_data_pipeline_spark.streaming.pipeline import run_ingest_stream

CATS = ["cs.DB", "cs.LG", "stat.ML", "cs.CL"]


def _fake_fetch(category: str, max_results: int):
    """Deterministic fake of the paginated API scan (O-1): 7 records
    per category, 2 of which repeat across every category (cross-
    category duplicates), plus one within-batch duplicate."""
    base = [
        {
            "entry_id": f"http://example.org/abs/{category}.{i}",
            "title": f"{category} paper {i}",
            "authors": ["A One", "B Two"],
            "summary": f"summary {category} {i}",
            "primary_category": category,
            "categories": [category],
            "published": "2024-01-10T00:00:00Z",
            "updated": "2024-01-11T00:00:00+00:00",
            "journal_ref": None,
            "doi": None,
            "_corrupt_record": None,
        }
        for i in range(5)
    ]
    shared = [
        {**base[0], "entry_id": f"http://example.org/abs/shared.{i}",
         "title": f"shared {i}"}
        for i in range(2)
    ]
    return base + shared + [base[0]]  # within-batch dup of base[0]


@pytest.fixture(scope="module")
def collected(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("collector"))
    # fixture records are dated 2024-01; a wide lookback keeps them in
    # the dedup window regardless of the wall clock
    c = Collector(spark, root, _fake_fetch, CATS, categories_per_run=3,
                  batch_size=3, lookback_months=600)
    runs = c.drain()
    return c, root, runs


def test_drain_covers_all_categories(collected):
    c, root, runs = collected
    assert runs == 2                      # 4 categories / 3 per run
    prog = {r.category_name: r.status for r in c.progress.read().collect()}
    assert set(prog) == set(CATS)
    assert all(v == "Finished" for v in prog.values())


def test_cross_category_dedup(spark, collected):
    c, root, _ = collected
    raw = spark.read.schema(RAW_RECORD_SCHEMA).json(f"{root}/raw")
    ids = [r.entry_id for r in raw.select("entry_id").collect()]
    assert len(ids) == len(set(ids))      # O-22/O-23: no dup ids land
    # 5 unique per category + 2 shared ids written once (first run wins)
    assert len(ids) == 5 * len(CATS) + 2


def test_partition_layout_and_stats(spark, collected):
    c, root, _ = collected
    import os
    cats_on_disk = {d for d in os.listdir(f"{root}/raw") if d.startswith("_cat=")}
    assert "_cat=cs_DB" in cats_on_disk   # O-14 key sanitization
    stats = c.run_stats.read()
    assert stats.count() == len(CATS)     # O-30 per-category run stats
    by_cat = {r.category_name: r for r in stats.collect()}
    # categories process in sorted order: cs.CL first keeps the shared
    # ids; later categories see them in the id history and dedup
    assert by_cat["cs.CL"].s3_count == 7
    assert by_cat["cs.DB"].s3_count == 5


def test_raw_files_hold_at_most_batch_size_records(collected):
    """Every raw file holds at most ``batch_size`` (3) records, the
    reference's per-file batching: cs.CL's 7 records land as 3+3+1."""
    import glob
    import gzip

    _, root, _ = collected
    sizes = {}
    for path in glob.glob(f"{root}/raw/_cat=*/_ingest_date=*/*.json.gz"):
        with gzip.open(path, "rt") as f:
            sizes.setdefault(path.split("/")[-3], []).append(
                sum(1 for line in f if line.strip()))
    assert all(n <= 3 for ns in sizes.values() for n in ns), sizes
    assert sorted(sizes["_cat=cs_CL"]) == [1, 3, 3]
    assert sum(map(sum, sizes.values())) == 5 * len(CATS) + 2


def test_control_flips_launch_no_job(spark, tmp_path):
    """Registration, selection and the finish flip are driver-side
    Arrow work on the progress generation: no Spark job."""
    from .conftest import jobs_launched

    c = Collector(spark, str(tmp_path / "flips"), _fake_fetch, CATS,
                  categories_per_run=3)
    assert jobs_launched(spark, c.register_new_categories) == 0
    got = []
    assert jobs_launched(spark, lambda: got.extend(c.pending_categories())) == 0
    assert got == ["cs.CL", "cs.DB", "cs.LG"]
    assert jobs_launched(spark, lambda: c._mark_finished("cs.CL")) == 0
    assert c.pending_categories() == ["cs.DB", "cs.LG", "stat.ML"]


def test_pending_skips_null_status_in_name_order(spark, tmp_path):
    """SQL semantics: a NULL ``status`` is not pending (``NULL !=
    'Finished'`` is not true), and pending categories come back in
    name order, whatever the generation's row order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from hackmd_data_pipeline_spark.schemas import CATEGORY_PROGRESS_SCHEMA

    c = Collector(spark, str(tmp_path / "pending"), _fake_fetch,
                  ["e", "b", "a", "d", "c"], categories_per_run=2)
    gen = os.path.join(c.progress.root, "gen=0")
    os.makedirs(gen)
    pq.write_table(pa.Table.from_pylist(
        [{"category_name": n, "status": s, "updated_at": None}
         for n, s in (("e", ""), ("b", None), ("a", ""), ("d", ""),
                      ("c", "Finished"))],
        schema=to_arrow_schema(CATEGORY_PROGRESS_SCHEMA)),
        os.path.join(gen, "part-00000.parquet"))
    with open(os.path.join(c.progress.root, "_CURRENT"), "w") as f:
        f.write("0")
    assert c.pending_categories() == ["a", "d"]
    c.categories_per_run = 10
    assert c.pending_categories() == ["a", "d", "e"]


def test_idempotent_rerun(spark, collected):
    c, root, _ = collected
    # all categories Finished -> a new run processes nothing
    out = c.run_once()
    assert out["processed"] == [] and out["pending_after"] == 0


def test_collector_to_etl_roundtrip(spark, collected, tmp_path):
    _, root, _ = collected
    counts = run_ingest_stream(
        spark, f"{root}/raw", str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert counts["canonical"] == 5 * len(CATS) + 2
    papers = spark.read.parquet(str(tmp_path / "out" / "papers"))
    assert papers.filter(F.col("primary_category") == "cs.CL").count() == 7


def test_known_ids_fresh_and_populated_root(spark, collected, tmp_path):
    """A root with no raw history yet has no known ids (an empty
    ``entry_id string`` frame, not a swallowed read error); a populated
    root returns every id it wrote."""
    from pyspark.sql import types as T

    fresh = Collector(spark, str(tmp_path / "fresh"), _fake_fetch,
                      CATS).known_ids()
    assert fresh.schema == T.StructType.fromDDL("entry_id string")
    assert fresh.count() == 0
    c, _, _ = collected
    ids = {r.entry_id for r in c.known_ids().collect()}
    assert ids == {f"http://example.org/abs/{cat}.{i}"
                   for cat in CATS for i in range(5)} | {
        f"http://example.org/abs/shared.{i}" for i in range(2)}
