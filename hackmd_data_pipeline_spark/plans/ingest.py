"""Canonical + history transforms (SURVEY.md §2.B, O-10..O-13, O-21).

The reference's per-row Python dict pipelines (parse_record,
reference src/etl/arxiv_etl.py:59-86; parse_history_record,
:88-111) re-expressed as single ``select`` projections — pure column
expressions, whole-stage-codegen'd, no Python per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import scrub_text

def _empty_map() -> Column:
    """Empty-map default matching the reference's json.dumps({}) columns
    (arxiv_etl.py:70,78). Built lazily — column construction needs an
    active session."""
    return F.create_map().cast("map<string,string>")


def _iso_ts(col: str) -> Column:
    """ISO-8601 string (with offset or trailing Z) -> TIMESTAMP.

    to_timestamp handles both offset forms; unparseable input -> NULL
    (the reference's try/except None, O-13, notebook cell c1c6da3a).
    """
    return F.to_timestamp(F.regexp_replace(F.col(col), "Z$", "+00:00"))


def completeness_filter(df: DataFrame) -> DataFrame:
    """O-21: drop records missing any of the 7 required fields, or with
    any blank author name (reference notebook cell c1c6da3a)."""
    required_text = ["entry_id", "title", "summary", "primary_category",
                     "published", "updated"]
    cond = F.lit(True)
    for c in required_text:
        cond = cond & F.col(c).isNotNull() & (F.length(F.trim(F.col(c))) > 0)
    cond = (
        cond
        & F.col("authors").isNotNull() & (F.size("authors") > 0)
        & F.forall("authors", lambda a: a.isNotNull() & (F.length(F.trim(a)) > 0))
    )
    return df.filter(cond)


def to_canonical(raw: DataFrame, etl_timestamp: Column | None = None) -> DataFrame:
    """O-11 parse_record: raw wire record -> canonical paper row
    (19 columns, reference arxiv_etl.py:59-86). Defaults via coalesce,
    date derivation, constant columns, lineage from the file source."""
    ts = etl_timestamp if etl_timestamp is not None else F.current_timestamp()
    published = _iso_ts("published")
    updated = _iso_ts("updated")
    return raw.select(
        F.col("entry_id"),
        F.coalesce(F.col("title"), F.lit("")).alias("title"),
        F.coalesce(F.col("authors"), F.array().cast("array<string>")).alias("authors"),
        _empty_map().alias("affiliations"),
        F.coalesce(F.col("summary"), F.lit("")).alias("summary"),
        F.coalesce(F.col("primary_category"), F.lit("")).alias("primary_category"),
        F.coalesce(F.col("categories"), F.array().cast("array<string>")).alias("categories"),
        published.alias("published"),
        updated.alias("updated"),
        F.col("journal_ref"),
        F.col("doi"),
        _empty_map().alias("links"),
        published.cast("date").alias("published_date"),
        updated.cast("date").alias("updated_date"),
        ts.alias("etl_timestamp"),
        F.lit(1).alias("version"),
        F.array().cast("array<string>").alias("keywords"),
        F.lit(None).cast("string").alias("topic"),
        F.col("source_path").alias("s3_path"),
    )


def to_history(canonical: DataFrame, etl_stage: str = "etl",
               operation_type: str = "insert",
               history_id: Column | None = None,
               version: Column | None = None) -> DataFrame:
    """O-12 parse_history_record: canonical row -> append-only audit row
    (reference arxiv_etl.py:88-111): uuid surrogate key, epoch-seconds
    version, control-char scrub on summary, stage/op tags.

    ``history_id`` / ``version`` are injectable so the otherwise
    nondeterministic uuid()/now() columns can be pinned for the
    oracle-checked registry form (``ingest_history_record``); the
    defaults reproduce the reference's runtime behavior.
    """
    hid = history_id if history_id is not None else F.expr("uuid()")
    ver = (version if version is not None
           else F.unix_timestamp(F.current_timestamp()))
    return canonical.select(
        hid.alias("history_id"),
        "entry_id", "title", "authors", "affiliations",
        scrub_text(F.col("summary")).alias("summary"),
        "primary_category", "categories", "published", "updated",
        "journal_ref", "doi", "links", "etl_timestamp",
        "keywords", "topic", "s3_path",
        ver.alias("version"),
        F.lit(etl_stage).alias("etl_stage"),
        F.lit(operation_type).alias("operation_type"),
    )
