"""Extension-operator query registrations (north-star surface).

Operators beyond the reference's own inventory that a large-scale
training-data pipeline needs (SURVEY.md §7 Phase 4 + the driver
brief): as-of joins, sliding windows, per-key running stats, TF-IDF
keywords and LDA topics (filling the reference's declared-but-empty
``keywords``/``topic`` columns, create_table.sql:70-71 /
arxiv_etl.py:83-84), ingest-transform parity as an oracle-checked
query, and the multimodal feature path.

Timestamp discipline: events.ts is TIMESTAMP_NTZ; all bucketing is
pure epoch arithmetic (timestamp_add/timestamp_diff) so results are
identical under any driver session timezone; oracle outputs CAST to
TIMESTAMP to match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalars import WS_CLASS
from ..operators.joins import asof_join
from ..operators.multimodal import attach_meta, extract_features
from ..operators.skew import salted_agg
from ..tables import load_table
from .ingest import to_history
from .registry import query

_EPOCH = "1970-01-01 00:00:00"


def _epoch_ntz():
    return F.lit(_EPOCH).cast("timestamp_ntz")


# --------------------------------------------------------------- as-of join


@query(
    "events_asof_join",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
               1 AS side, NULL::DOUBLE AS p_value
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, NULL, NULL,
               0 AS side, value AS p_value
        FROM events WHERE event_type = 'purchase'
    ), carried AS (
        SELECT user_id, ts, event_id, value, side,
               LAST_VALUE(p_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, side
                   ROWS UNBOUNDED PRECEDING) AS value_asof
        FROM u
    )
    SELECT user_id, event_id AS click_id, ts AS click_ts,
           ROUND(value, 2) AS click_value,
           ROUND(value_asof, 2) AS purchase_value_asof
    FROM carried WHERE side = 1
    ORDER BY user_id, click_ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension; SURVEY.md §2.H notes the reference has no
    range/as-of joins): every click gets the value of the user's most
    recent purchase at-or-before it. Union-scan formulation — one
    shuffle on user_id, no range join (operators/joins.py)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    joined = asof_join(clicks, purchases, on="user_id", ts_col="ts",
                       payload_cols=("value",))
    return (
        joined.select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.round("value", 2).alias("click_value"),
            F.round("value_asof", 2).alias("purchase_value_asof"),
        )
        .orderBy("user_id", "click_ts")
    )


# ---------------------------------------------------------- sliding window


@query(
    "events_sliding_window",
    oracle=f"""
    WITH shifted AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value, k.k
        FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS k) k
    )
    SELECT TIMESTAMP '{_EPOCH}'
             + INTERVAL (1800 * (CAST(FLOOR(EXTRACT(EPOCH FROM ts) / 1800) AS BIGINT) - k)) SECOND
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS value_sum
    FROM shifted
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (1 h window, 30 min slide): each event
    lands in exactly 2 windows. Explode-to-window-starts then ONE
    shuffle on (window_start, event_type) — the same plan Structured
    Streaming's window() generates, in pure NTZ epoch arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    slot = F.timestamp_diff("SECOND", _epoch_ntz(), F.col("ts")) / 1800
    starts = F.array(*[
        F.timestamp_add("SECOND", ((F.floor(slot) - k) * 1800).cast("long"), _epoch_ntz())
        for k in (0, 1)
    ])
    return (
        ev.select(F.explode(starts).alias("window_start"), "event_type", "value")
        .groupBy("window_start", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .orderBy("window_start", "event_type")
    )


# ------------------------------------------------------- running analytics


@query(
    "events_user_running_stats",
    oracle="""
    SELECT user_id, event_id,
           ROUND(value, 2)                                   AS value,
           ROUND(LAG(value) OVER w, 2)                       AS prev_value,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS cum_value,
           ROW_NUMBER() OVER w                               AS seq
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, seq
    """,
)
def events_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running analytics (extension; generalizes the O-30
    accumulation pattern): lag, 3-row moving average, cumulative sum,
    sequence number — four frames over ONE (user_id, ts) sort, single
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id", "event_id",
            F.round("value", 2).alias("value"),
            F.round(F.lag("value").over(w), 2).alias("prev_value"),
            F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).alias("mov_avg3"),
            F.round(F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias("cum_value"),
            F.row_number().over(w).alias("seq"),
        )
        .orderBy("user_id", "seq")
    )


# ------------------------------------------------------- ingest transform


@query(
    "ingest_canonical_parse",
    oracle="""
    WITH raw AS (
        SELECT 'http://example.org/abs/' || CAST(doc_id AS VARCHAR) AS entry_id,
               SUBSTR(text, 1, 40) AS title,
               lang AS primary_category,
               strftime(TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) MINUTE,
                        '%Y-%m-%dT%H:%M:%S')
                 || CASE WHEN doc_id % 2 = 0 THEN 'Z' ELSE '+00:00' END AS published,
               CASE WHEN doc_id % 5 = 0 THEN NULL ELSE source END AS journal_ref
        FROM documents
    )
    SELECT entry_id,
           COALESCE(title, '') AS title,
           COALESCE(primary_category, '') AS primary_category,
           CAST(regexp_replace(published, 'Z$|\\+00:00$', '') AS TIMESTAMP) AS published,
           CAST(CAST(regexp_replace(published, 'Z$|\\+00:00$', '') AS TIMESTAMP) AS DATE)
             AS published_date,
           COALESCE(journal_ref, '') AS journal_ref,
           1 AS version,
           CAST(NULL AS VARCHAR) AS topic
    FROM raw
    ORDER BY entry_id
    """,
)
def ingest_canonical_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-10/O-11/O-13 ingest-transform parity as an oracle-checked query
    (the pipeline form lives in plans/ingest.py + streaming/): a
    raw-record projection derived deterministically from documents is
    parsed exactly like parse_record (reference arxiv_etl.py:59-86) —
    ISO-8601 with both offset spellings -> timestamp (NTZ: wire
    strings are UTC by construction, so parsing must not consult the
    session timezone), derived date, coalesce defaults, version
    constant, null topic."""
    d = load_table(spark, sf_dir, "documents")
    base = F.timestamp_add("MINUTE", F.col("doc_id").cast("long"),
                           F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
    iso = F.concat(
        F.date_format(base, "yyyy-MM-dd'T'HH:mm:ss"),
        F.when(F.col("doc_id") % 2 == 0, "Z").otherwise("+00:00"),
    )
    raw = d.select(
        F.concat(F.lit("http://example.org/abs/"), F.col("doc_id").cast("string")).alias("entry_id"),
        F.substring("text", 1, 40).alias("title"),
        F.col("lang").alias("primary_category"),
        iso.alias("published"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(F.col("source")).alias("journal_ref"),
    )
    published = F.to_timestamp_ntz(
        F.regexp_replace("published", r"Z$|\+00:00$", ""), F.lit("yyyy-MM-dd'T'HH:mm:ss"))
    return (
        raw.select(
            "entry_id",
            F.coalesce("title", F.lit("")).alias("title"),
            F.coalesce("primary_category", F.lit("")).alias("primary_category"),
            published.alias("published"),
            published.cast("date").alias("published_date"),
            F.coalesce("journal_ref", F.lit("")).alias("journal_ref"),
            F.lit(1).alias("version"),
            F.lit(None).cast("string").alias("topic"),
        )
        .orderBy("entry_id")
    )


@query(
    "ingest_history_record",
    oracle="""
    WITH canonical AS (
        SELECT 'http://example.org/abs/' || CAST(doc_id AS VARCHAR) AS entry_id,
               SUBSTR(text, 1, 50) || chr(10) || 'tail' || chr(13) || 'end'
                 AS summary,
               TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) MINUTE
                 AS published,
               doc_id % 2 = 0 AS is_insert
        FROM documents
    )
    SELECT SUBSTR(md5(entry_id), 1, 8) || '-' ||
           SUBSTR(md5(entry_id), 9, 4) || '-' ||
           SUBSTR(md5(entry_id), 13, 4) || '-' ||
           SUBSTR(md5(entry_id), 17, 4) || '-' ||
           SUBSTR(md5(entry_id), 21, 12)                     AS history_id,
           entry_id,
           regexp_replace(summary, '[\\x00\\n\\r]', ' ', 'g') AS summary,
           published,
           TIMESTAMP '2024-06-01 12:00:00'                    AS etl_timestamp,
           CAST(1717243200 AS BIGINT)                         AS version,
           'etl'                                              AS etl_stage,
           CASE WHEN is_insert THEN 'insert' ELSE 'update' END AS operation_type
    FROM canonical
    ORDER BY entry_id
    """,
)
def ingest_history_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-12 parse_history_record parity as an oracle-checked query
    (reference arxiv_etl.py:88-111): uuid surrogate key, epoch-seconds
    version, control-char scrub (\\x00/\\n/\\r -> space) on summary,
    stage/op tags. The runtime nondeterminism (uuid()/now()) is pinned
    via the injectable history_id/version parameters — history_id is a
    deterministic UUID-shaped md5 of the entry_id, version/etl_timestamp
    a pinned epoch — so every OTHER column exercises the real
    ``plans/ingest.py::to_history`` projection under a driver hash gate.
    Insert vs update rows go through separate ``to_history`` calls, the
    reference's per-invocation op-tag shape."""
    d = load_table(spark, sf_dir, "documents")
    pinned_ts = F.lit("2024-06-01 12:00:00").cast("timestamp_ntz")
    published = F.timestamp_add(
        "MINUTE", F.col("doc_id").cast("long"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
    empty_map = F.create_map().cast("map<string,string>")
    canonical = d.select(
        F.concat(F.lit("http://example.org/abs/"),
                 F.col("doc_id").cast("string")).alias("entry_id"),
        F.substring("text", 1, 40).alias("title"),
        F.array(F.col("lang")).alias("authors"),
        empty_map.alias("affiliations"),
        F.concat(F.substring("text", 1, 50), F.lit("\ntail\rend")).alias("summary"),
        F.col("lang").alias("primary_category"),
        F.array(F.col("source")).alias("categories"),
        published.alias("published"),
        published.alias("updated"),
        F.lit(None).cast("string").alias("journal_ref"),
        F.lit(None).cast("string").alias("doi"),
        empty_map.alias("links"),
        pinned_ts.alias("etl_timestamp"),
        F.array().cast("array<string>").alias("keywords"),
        F.lit(None).cast("string").alias("topic"),
        F.col("source").alias("s3_path"),
        (F.col("doc_id") % 2 == 0).alias("is_insert"),
    )
    h = F.md5(F.col("entry_id"))
    hid = F.concat_ws(
        "-", F.substring(h, 1, 8), F.substring(h, 9, 4),
        F.substring(h, 13, 4), F.substring(h, 17, 4), F.substring(h, 21, 12))
    pinned_version = F.lit(1717243200).cast("bigint")

    def _hist(frame: DataFrame, op: str) -> DataFrame:
        return to_history(frame, etl_stage="etl", operation_type=op,
                          history_id=hid, version=pinned_version)

    hist = _hist(canonical.filter("is_insert"), "insert").unionByName(
        _hist(canonical.filter("NOT is_insert"), "update"))
    return (
        hist.select("history_id", "entry_id", "summary", "published",
                    "etl_timestamp", "version", "etl_stage", "operation_type")
        .orderBy("entry_id")
    )


# ------------------------------------------------------- keywords / topics


@query(
    "text_keywords_tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, LOWER(t.tok) AS term
        FROM documents,
             UNNEST(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) AS t(tok)
        WHERE LENGTH(TRIM(text)) > 0 AND LENGTH(t.tok) > 3
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ), n AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rk
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rk
    FROM scored WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
)
def text_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction, top-3 TF-IDF terms per document — fills the
    reference's declared-but-never-populated ``keywords`` column
    (create_table.sql:70, hardcoded [] at arxiv_etl.py:83). Ranking is
    integer-only (tf desc, df asc, term) so Spark and the oracle agree
    independent of float ulps; the tfidf score itself is reported
    rounded. The (doc, term) aggregate is the ONLY pass over the
    exploded tokens (shared via ReusedExchange): document frequency
    is a plain count over it — its rows are distinct (doc, term) by
    construction, no countDistinct needed — and n_docs derives the
    same way."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return tfidf_keywords(d).orderBy("doc_id", "rk")


def tfidf_keywords(d: DataFrame, k: int = 3) -> DataFrame:
    """text_keywords_tfidf's engine over ANY documents-shaped frame —
    split out (r07) so CorpusPipeline's annotate stage runs EXACTLY
    the oracled operator. Emits ``doc_id | term | tf | df | tfidf |
    rk`` for the top-``k`` terms per doc, integer-only ranking."""
    toks = (
        d.select("doc_id", F.explode(F.split(F.trim("text"), WS_CLASS)).alias("tok"))
        .filter(F.length("tok") > 3)
        .select("doc_id", F.lower("tok").alias("term"))
    )
    # no checkpoint: the three consumers of tf share its shuffle via
    # ReusedExchange (identical subplans), which A/B-measured FASTER
    # than materializing — Catalyst already dedups the work
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    w = W.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("df").asc(), F.col("term"))
    return (
        tf.join(df_, "term").crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf", "df",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4).alias("tfidf"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


from ..operators.topics import (  # noqa: E402
    PINNED_TOPIC_TERMS,
    topic_score_oracle_sql,
    topic_scores,
)


@query("text_topics_score", oracle=topic_score_oracle_sql(PINNED_TOPIC_TERMS))
def text_topics_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic ASSIGNMENT against the pinned topic-term artifact — fills
    the reference's declared-but-never-populated ``topic`` column
    (create_table.sql:71, hardcoded None at arxiv_etl.py:84) with a
    value-checked operator, retiring the registry's last rows-only
    entry (r06 VERDICT item 1, the SemDeDup/BPE pinned-artifact
    recipe).

    The artifact (operators/topics.py::PINNED_TOPIC_TERMS) freezes the
    sf0.01-trained LDA(k=5, seed=42) topic-term log-probs as INT64
    micro-log-probs, provenance-tested like PINNED_BPE_MERGES. Scoring
    is then pure relational algebra — explode tokens, broadcast-join
    the 28x5-row artifact, EXACT int64 sum per (doc, topic), window
    argmax with ties -> lowest topic — bit-identical across engines
    because no float ever enters the verdict path. TRAINING is not a
    registry entry: online variational LDA's posterior depends on
    float reduction order across minibatch partitions, so no SQL
    engine can restate it (operators/topics.py header).

    Scale: one corpus scan; the pinned table is a constant-size
    broadcast; one shuffle on (doc_id, topic) with map-side partial
    sums; per-doc window argmax. No UDF."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0)
    return topic_scores(d, PINNED_TOPIC_TERMS).orderBy("doc_id")


from ..operators.textmodel import (  # noqa: E402
    PINNED_DOMAIN_WEIGHTS,
    classifier_oracle_sql,
    classifier_scores,
)


@query("text_quality_classifier",
       oracle=classifier_oracle_sql(PINNED_DOMAIN_WEIGHTS))
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based corpus filtering with a FROZEN linear classifier
    (r08) — the CCNet-fastText / FineWeb-Edu deployment shape: a
    pinned model applied corpus-wide as a keep/drop gate, the
    filtering stage every LLM data pipeline runs between dedup and
    tokenization. The artifact
    (operators/textmodel.py::PINNED_DOMAIN_WEIGHTS) freezes smoothed
    log-odds (Monroe et al. 2008, Laplace prior) of each vocabulary
    term between sf0.01's en-labeled docs and the rest as INT64
    micro-weights, provenance-tested like PINNED_TOPIC_TERMS; scoring
    is explode -> broadcast-join the 31-row artifact -> EXACT int64
    sum per doc -> integer sign test, bit-identical across engines
    (no float in the verdict path). Measured accuracy vs the lang
    column: 0.628 at sf0.01 (majority baseline 0.564) — the synthetic
    langs share one vocabulary, so only frequency-profile signal
    exists; the oracle gates the scoring machinery, the planted
    contract test pins discrimination on unambiguous inputs.

    Scale: one corpus scan; constant-size broadcast; ONE shuffle on
    doc_id with map-side partial sums. No UDF."""
    d = load_table(spark, sf_dir, "documents")
    return classifier_scores(d, PINNED_DOMAIN_WEIGHTS).orderBy("doc_id")


# ------------------------------------------------------------- multimodal


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> media-shaped rows: payload = utf-8 bytes of text,
    modality cycled by doc_id, duration for 'video' rows derived from
    n_chars (10 ms per char)."""
    d = load_table(spark, sf_dir, "documents")
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
        (F.col("n_chars") * 10).alias("duration_ms"),
    )


@query(
    "multimodal_features",
    oracle=r"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
               LOWER(hex(encode(text))) AS h
        FROM documents
    ), b AS (
        SELECT media_id, modality,
               [ 16 * (strpos('0123456789abcdef', h[2*j-1]) - 1)
                   + (strpos('0123456789abcdef', h[2*j]) - 1)
                 FOR j IN range(1, LEAST(len(h) // 2, 4096) + 1) ] AS bytes
        FROM m
    ), hist AS (
        SELECT media_id, modality,
               [ len(list_filter(bytes, x -> x % 8 = k))
                 FOR k IN range(0, 8) ] AS buckets,
               GREATEST(len(bytes), 1) AS total
        FROM b
    )
    SELECT media_id, modality,
           ROUND(list_sum([ CAST(CAST(ROUND(CAST(c AS DOUBLE) / total, 6)
                                      AS FLOAT) AS DOUBLE)
                            FOR c IN buckets ]), 4) AS feature_sum,
           8 AS dim
    FROM hist ORDER BY media_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over mapInPandas (north star):
    the decode step is the deterministic stub (no codec libs in this
    container — operators/multimodal.py documents the swap point); the
    Spark plumbing (schema, batch shape, payload dropped before any
    shuffle) is real. Determinism asserted in tests.

    PROMOTED rows-only -> full oracle in r04: the stub's byte-bucket
    histogram is plain arithmetic over the UTF-8 payload, so DuckDB
    reproduces it from hex(encode(text)) — including the
    float32-of-round(.,6) representation the FEATURE_SCHEMA's
    array<float> imposes before the double feature_sum (the oracle
    casts through FLOAT at exactly the same point). This value-checks
    the whole mapInPandas plumbing: batch shape, per-row decode
    dispatch, Arrow float narrowing, and the 4096-byte cap."""
    media = _media(spark, sf_dir)
    feats = extract_features(media)
    return feats.select(
        "media_id", "modality",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4).alias("feature_sum"),
        F.size("feature").alias("dim"),
    ).orderBy("media_id")


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(n_chars * 10 AS BIGINT) AS duration_ms,
           CAST((n_chars * 10) // 1000 + 1 AS BIGINT) AS n_frames
    FROM documents
    WHERE doc_id % 3 = 2
    ORDER BY media_id
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (north star): one row per 1000 ms
    sample point via explode(sequence(...)) — JVM-side fan-out, then
    count per media. The oracle checks the fan-out arithmetic."""
    media = _media(spark, sf_dir).filter(F.col("modality") == "video")
    frames = media.select(
        "media_id", "duration_ms",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("duration_ms"),
                             F.lit(1000).cast("long"))).alias("frame_ts_ms"),
    )
    return (
        frames.groupBy("media_id", "duration_ms")
        .agg(F.count("*").cast("long").alias("n_frames"))
        .select("media_id", F.col("duration_ms").cast("long").alias("duration_ms"), "n_frames")
        .orderBy("media_id")
    )


@query(
    "multimodal_meta_by_modality",
    oracle="""
    SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           COUNT(*) AS n_media,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT sha256(text)) AS n_distinct_payloads
    FROM documents
    GROUP BY modality
    ORDER BY modality
    """,
)
def multimodal_meta_by_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata accounting: per-modality volume and distinct
    payloads from the typed metadata struct (attach_meta) — payloads
    themselves never shuffle; only the 32-byte checksum does."""
    media = attach_meta(_media(spark, sf_dir))
    return (
        media.groupBy("modality")
        .agg(
            F.count("*").alias("n_media"),
            F.sum(F.col("meta.n_bytes")).cast("long").alias("total_bytes"),
            F.countDistinct(F.col("meta.sha256")).alias("n_distinct_payloads"),
        )
        .orderBy("modality")
    )


from .oracle_helpers import media_phash_oracle  # noqa: E402


@query("multimodal_phash_neardup", oracle=media_phash_oracle())
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal NEAR-DUP (r07 VERDICT item 4 — the missing member of
    the multimodal family): 64-bit perceptual-hash-style signatures
    over the opaque binary payloads (byte-block histogram -> bit
    votes, operators/multimodal.py::media_phash_pairs), paired via the
    SimHash pigeonhole block join + exact Hamming verify. The payload
    bytes never shuffle — one narrow scan computes the 8-byte
    signature, and only signatures move. Restated bit-exactly in
    DuckDB (hex-domain blocks through the shared xxh64 vote pipeline),
    so the banding decisions AND the Hamming verdicts are
    value-checked like dedup_simhash. A real codec deployment swaps
    byte blocks for decoded perceptual features in the same kernel
    (the documented multimodal stub posture)."""
    from ..operators.multimodal import media_phash_pairs

    media = _media(spark, sf_dir)
    return media_phash_pairs(media, max_hamming=3)


# ------------------------------------------------------------ skew / cube


@query(
    "agg_salted_hot_keys",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_quantity), 2)      AS sum_qty,
           COUNT(*)                        AS n_rows,
           ROUND(SUM(l_extendedprice) / COUNT(*), 4) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.py): lineitem
    has only 3 return flags — the canonical whale-key shape. Salting
    spreads each key over 16 reducers in phase 1; phase 2 merges 16
    partial rows per key. The oracle checks it equals the plain
    group-by exactly (algebraic aggregates compose losslessly)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li, ["l_returnflag"],
        partial_aggs=[
            F.sum("l_quantity").alias("_sq"),
            F.count("*").alias("_n"),
            F.sum("l_extendedprice").alias("_sp"),
        ],
        final_aggs=[
            F.round(F.sum("_sq"), 2).alias("sum_qty"),
            F.sum("_n").alias("n_rows"),
            F.round(F.sum("_sp") / F.sum("_n"), 4).alias("avg_price"),
        ],
        buckets=16, salt_source="l_orderkey",
    )
    return out.orderBy("l_returnflag")


@query(
    "agg_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """,
)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — all 4 grouping sets in one pass
    (SURVEY.md §2.F free extension: the reference has no grouping
    sets; Spark expands them in a single shuffle). NULLS LAST pinned on
    both sides — Spark defaults nulls-first ascending, DuckDB
    nulls-last."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        .orderBy(F.asc_nulls_last("o_orderstatus"),
                 F.asc_nulls_last("o_orderpriority"))
    )


@query(
    "events_rollup_daily",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS DATE) AS event_date,
           CAST(date_trunc('day', ts) AS TIMESTAMP)               AS bucket,
           event_type,
           COUNT(*)                 AS n_events,
           ROUND(SUM(value), 2)     AS sum_value,
           ROUND(MIN(value), 6)     AS min_value,
           ROUND(MAX(value), 6)     AS max_value
    FROM events
    GROUP BY event_date, bucket, event_type
    ORDER BY bucket, event_type
    """,
)
def events_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily hypertable-style rollup (operators/rollup.py::time_rollup)
    — the pre-aggregate a 100 TB events store is actually queried
    through. Incremental, replay-proof maintenance lives in
    append_rollup_delta / read_rollup / compact_rollup, tested in
    tests/test_rollup.py; this query value-checks the aggregate
    itself. NTZ-safe epoch arithmetic for the day bucket."""
    from ..operators.rollup import time_rollup
    ev = load_table(spark, sf_dir, "events")
    r = time_rollup(ev, "day")
    return (
        r.select(
            "event_date", "bucket", "event_type", "n_events",
            F.round("sum_value", 2).alias("sum_value"),
            F.round("min_value", 6).alias("min_value"),
            F.round("max_value", 6).alias("max_value"),
        )
        .orderBy("bucket", "event_type")
    )


from .oracle_helpers import xxhash64_bucket_cte  # noqa: E402

_SPLIT_ORACLE = xxhash64_bucket_cte(
    key_col="doc_id", seed=0, granularity=10_000,
    source_sql="documents", keep_cols="lang") + """
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END            AS split,
       lang,
       COUNT(*)                        AS n_docs
FROM final
GROUP BY split, lang
ORDER BY split, lang
"""


@query("docs_train_val_test_split", oracle=_SPLIT_ORACLE)
def docs_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hashed doc_id
    (operators/sampling.py) — stable across runs, partitionings, and
    incremental ingests, unlike randomSplit. Assignment is a pure
    projection; this query reports per-(split, lang) counts.

    PROMOTED rows-only -> full oracle in r04: xxhash64 has no DuckDB
    builtin, but xxh64-of-one-long is a closed-form 5-step arithmetic
    function, restated bit-exactly in DuckDB HUGEINT/UBIGINT SQL
    (plans/oracle_helpers.py) — the oracle now value-checks the
    actual hash-bucket assignment, not just row counts."""
    from ..operators.sampling import deterministic_split
    d = load_table(spark, sf_dir, "documents")
    split = deterministic_split(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        split.groupBy("split", "lang").agg(F.count("*").alias("n_docs"))
        .orderBy("split", "lang")
    )


_PACK_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT)                  AS n_docs_packed,
       CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)   AS total_tokens,
       CAST(COALESCE(SUM(CASE WHEN n_tok > 1024 THEN 1 ELSE 0 END), 0)
            AS BIGINT)                           AS n_overflow_docs,
       TRUE AS budget_respected,
       TRUE AS overflow_isolated,
       TRUE AS seqs_within_bound
FROM (SELECT len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tok
      FROM documents WHERE LENGTH(TRIM(text)) > 0)
"""


@query("docs_pack_sequences", oracle=_PACK_ORACLE)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/packing.py): documents
    greedily packed per partition into <=1024-token training
    sequences; per-partition ids make the pack embarrassingly
    parallel (zero shuffle before the stats agg).

    PROMOTED rows-only -> driver oracle in r05 via the
    exact+invariant pattern (same recipe as the sketch queries): the
    partition-dependent artifacts (seq ids, per-sequence fill) fold
    into Spark-verified booleans, while the partition-INDEPENDENT
    exact outputs (doc count, token total, overflow-doc count) are
    restated by DuckDB from the raw documents table. A packing bug
    that loses/duplicates a doc or mangles token counts shifts an
    exact column (gate mismatch); one that overfills a sequence,
    packs an overflow doc with neighbours, or explodes the sequence
    count flips a boolean off TRUE (gate mismatch). Bounds: each
    non-overflow sequence holds <= 1024 tokens so n_seqs >=
    ceil(tokens/1024); per-partition greedy next-fit closes a
    sequence only when the next doc cannot fit, giving n_seqs <=
    2*tokens/1024 + 2*parts + n_overflow + 2 (pairing argument, with
    slack for the last bin per partition and overflow resets)."""
    from ..operators.packing import pack_sequences, packing_stats
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0)
    with_counts = d.select(
        "doc_id", F.size(F.split(F.trim("text"), WS_CLASS)).alias("n_tokens"))
    packed = pack_sequences(with_counts, max_tokens=1024)
    seq = packing_stats(packed, 1024)  # seq_id | n_docs | seq_tokens | has_overflow
    nonover_tokens = F.sum(F.when(~F.col("has_overflow"),
                                  F.col("seq_tokens")).otherwise(0))
    nonover_seqs = F.sum(F.when(~F.col("has_overflow"), 1).otherwise(0))
    n_overflow = F.sum(F.when(F.col("has_overflow"),
                              F.col("n_docs")).otherwise(0))
    n_parts = F.countDistinct(F.shiftright("seq_id", 40))
    return seq.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long")
        .alias("n_docs_packed"),
        F.coalesce(F.sum("seq_tokens"), F.lit(0)).cast("long")
        .alias("total_tokens"),
        F.coalesce(n_overflow, F.lit(0)).cast("long")
        .alias("n_overflow_docs"),
        F.coalesce(
            F.sum(F.when((~F.col("has_overflow"))
                         & (F.col("seq_tokens") > 1024), 1).otherwise(0))
            == 0, F.lit(True)).alias("budget_respected"),
        F.coalesce(
            F.sum(F.when(F.col("has_overflow")
                         & (F.col("n_docs") != 1), 1).otherwise(0))
            == 0, F.lit(True)).alias("overflow_isolated"),
        F.coalesce(
            (nonover_seqs >= F.ceil(nonover_tokens / F.lit(1024.0)))
            & (nonover_seqs <= 2.0 * nonover_tokens / F.lit(1024.0)
               + 2 * n_parts + n_overflow + F.lit(2)),
            F.lit(True)).alias("seqs_within_bound"),
    )


@query(
    "events_interval_join",
    oracle="""
    SELECT c.event_id                       AS click_id,
           p.event_id                       AS purchase_id,
           c.user_id,
           CAST(c.ts AS TIMESTAMP)          AS click_ts,
           ROUND(EXTRACT(EPOCH FROM (c.ts - p.ts)), 3) AS secs_after_purchase
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts <= c.ts
     AND p.ts >= c.ts - INTERVAL 5 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY click_id, purchase_id
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval range join (operators/rangejoin.py): every
    click paired with the same user's purchases in the preceding 5
    minutes. The range predicate is rewritten as a 2-bin bucketed
    EQUI-join (explode left to 2 candidate bins, bin right once,
    exact filter after) — shuffles by (user, bin), never a
    nested-loop; plan-asserted. The DuckDB oracle states the raw
    BETWEEN form, so the rewrite's semantics are value-checked."""
    from ..operators.rangejoin import interval_join
    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts")))
    j = interval_join(clicks, purchases, on=["user_id"],
                      left_ts="click_ts", right_ts="purchase_ts",
                      delta_seconds=300)
    return (
        j.select(
            "click_id", "purchase_id", "user_id", "click_ts",
            F.round(F.timestamp_diff("MICROSECOND", F.col("purchase_ts"),
                                     F.col("click_ts")) / 1e6, 3)
            .alias("secs_after_purchase"),
        )
        .orderBy("click_id", "purchase_id")
    )


_REBALANCE_ORACLE = xxhash64_bucket_cte(
    key_col="doc_id", seed=0, granularity=10_000,
    source_sql="documents", keep_cols="doc_id, lang") + """
, counts AS (
    SELECT lang, COUNT(*) AS n_before FROM documents GROUP BY lang
), tot AS (
    SELECT SUM(n_before) AS total FROM counts
), kf AS (
    -- mirrors stratified_downsample's driver arithmetic exactly:
    -- cap = 0.30 * total; keep_frac = min(1.0, cap / n) in IEEE
    -- doubles, threshold = trunc(keep_frac * 10000)
    SELECT lang, CAST(n_before AS BIGINT) AS n_before,
           LEAST(1.0, (CAST(0.30 AS DOUBLE) * total) / n_before) AS keep_frac
    FROM counts, tot
)
SELECT k.lang AS lang,
       k.n_before AS n_before,
       CAST(SUM(CASE WHEN f.bucket <
                     CAST(TRUNC(k.keep_frac * 10000) AS BIGINT)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_after
FROM kf k JOIN final f ON f.lang IS NOT DISTINCT FROM k.lang
GROUP BY k.lang, k.n_before
ORDER BY lang NULLS FIRST
"""


@query("docs_rebalance_langs", oracle=_REBALANCE_ORACLE)
def docs_rebalance_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mix rebalancing (operators/sampling.py::
    stratified_downsample): cap any language at 30% of the corpus by
    deterministic hash downsampling; reports per-lang before/after.

    PROMOTED rows-only -> full oracle in r04: the keep/drop rule is
    pmod(xxhash64(doc_id, lit(0)), 10000) < trunc(keep_frac * 10000),
    and the xxhash64 closed form is restated bit-exactly in DuckDB
    (plans/oracle_helpers.py), so the oracle value-checks the actual
    per-row sampling decision, not just the cap property."""
    from ..operators.sampling import stratified_downsample
    d = load_table(spark, sf_dir, "documents")
    kept = stratified_downsample(d, "lang", "doc_id", 0.30)
    before = d.groupBy("lang").agg(F.count("*").alias("n_before"))
    # Null-safe group join (round-4 ADVICE): a NULL-lang group must
    # survive to the report on both engines, not diverge the gate.
    # Expressed as plain equality on coalesce-to-sentinel keys (the
    # sentinel starts with \x00, impossible in a lang code) so the
    # handful-of-groups aggregate side stays a BroadcastHashJoin —
    # eqNullSafe planned a 5-row SortMergeJoin (r05 verdict item 3).
    sentinel = "\x00<null-lang>"
    after = (kept.groupBy("lang").agg(F.count("*").alias("n_after"))
             .select(F.coalesce("lang", F.lit(sentinel)).alias("_lang"),
                     "n_after"))
    return (
        before.join(F.broadcast(after),
                    F.coalesce(F.col("lang"), F.lit(sentinel)) == F.col("_lang"),
                    "left")
        .select("lang", "n_before",
                F.coalesce("n_after", F.lit(0)).alias("n_after"))
        .orderBy(F.col("lang").asc_nulls_first())
    )
