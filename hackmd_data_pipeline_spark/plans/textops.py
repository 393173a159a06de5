"""Text-analysis & dedup queries over the documents table.

The LLM-data-pipeline extension surface (BASELINE.json north star;
SURVEY.md §2.J/§7 Phase 4): exact dedup, fingerprinting, token
counting, quality scoring, scalar-function suite. Everything here is
built-in-function-only (JVM-side, codegen'd) — the non-SQL-expressible
variants (MinHash LSH, SimHash, language ID) live in
operators/ and are registered as rows-only queries in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import batch_id, fingerprint, sanitize_key, scrub_text, tokens
from ..functions.scalars import WS_CLASS
from ..operators.dedup import shingles
from ..tables import load_table
from .registry import query

# BPE-ish pre-tokenizer (GPT-2-shaped): contractions, space-prefixed
# letter runs, digit runs, punctuation runs. Lookahead-free on purpose
# so Java regex (Spark) and RE2 (DuckDB) tokenize identically; the
# whitespace class is spelled out because Java \s includes \x0B while
# RE2's does not (same divergence the tokenizer sweep closed).
_BPE_RE = (r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+"
           r"| ?[^ \t\n\x0B\f\rA-Za-z0-9]+")
# SQL-quote ONLY. DuckDB standard strings do not process backslash
# escapes, so RE2 must receive the single-backslash pattern verbatim —
# the old .replace("\\", "\\\\") fed RE2 escaped-backslash + literal
# letter, silently disabling the whitespace exclusions (latent: the
# synthetic corpora contain no tabs/newlines; pinned by
# test_bpe_tokenizer_parity_on_whitespace).
_BPE_RE_SQL = _BPE_RE.replace("'", "''")


@query(
    "fn_scalar_suite",
    oracle="""
    SELECT doc_id,
           replace(lang || '.' || source, '.', '_')                    AS sanitized_key,
           source || '_' || CAST(doc_id % 7 AS VARCHAR) || '_batch_'
                  || CAST(doc_id % 3 AS VARCHAR)                       AS batch_ref,
           COALESCE(lang, 'und')                                        AS lang_or_default,
           UPPER(SUBSTR(text, 1, 20))                                   AS title_like,
           LENGTH(regexp_replace(text, '[\\x00\\n\\r]', ' ', 'g'))      AS scrubbed_len
    FROM documents
    ORDER BY doc_id
    """,
)
def fn_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-12..O-16 scalar-function suite: key sanitization ('.'->'_',
    reference arxiv_collector.py:175), composite batch-id synthesis
    (:281), coalesce defaults (arxiv_etl.py:66-86), substring/upper
    projection, and the control-char scrub (arxiv_etl.py:89)."""
    d = load_table(spark, sf_dir, "documents")
    bid = batch_id("source", F.col("doc_id") % 7, F.col("doc_id") % 3)
    # reference batch id is {cat}_{date}_batch_{n}; here date ~ doc_id%7
    return (
        d.select(
            "doc_id",
            sanitize_key(F.concat_ws(".", "lang", "source")).alias("sanitized_key"),
            bid.alias("batch_ref"),
            F.coalesce("lang", F.lit("und")).alias("lang_or_default"),
            F.upper(F.substring("text", 1, 20)).alias("title_like"),
            F.length(scrub_text(F.col("text"))).alias("scrubbed_len"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+'))   AS n_tokens,
           LENGTH(text)                                     AS n_chars_actual,
           len(list_distinct(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+'))) AS n_unique_tokens,
           len(regexp_extract_all(text, '{_BPE_RE_SQL}'))   AS n_bpe_tokens
    FROM documents
    WHERE LENGTH(TRIM(text)) > 0
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (north-star text analysis): whitespace tokens,
    char count, unique-token count, and a BPE-ish pre-tokenizer count
    (GPT-2-style contraction/letter-run/digit-run/punct-run regex,
    written lookahead-free so Java regex and DuckDB RE2 agree). Pure
    codegen'd expressions — at 100 TB this is a single narrow scan,
    no shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return (
        d.select(
            "doc_id",
            F.size(tokens("text")).alias("n_tokens"),
            F.length("text").alias("n_chars_actual"),
            F.size(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), WS_CLASS))).alias("n_unique_tokens"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)).alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_quality_score",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang,
               LENGTH(text) AS n,
               len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tok,
               len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b')) AS n_stop,
               LENGTH(regexp_replace(text, '[^.!?,;]', '', 'g')) AS n_punct
        FROM documents
        WHERE LENGTH(TRIM(text)) > 0
    )
    SELECT doc_id, lang, n_tok AS n_tokens,
           ROUND(CAST(n AS DOUBLE) / n_tok, 4)        AS avg_token_len,
           ROUND(CAST(n_stop AS DOUBLE) / n_tok, 4)   AS stopword_ratio,
           ROUND(CAST(n_punct AS DOUBLE) / n, 4)      AS punct_ratio,
           CASE WHEN n_tok >= 20 AND CAST(n_stop AS DOUBLE) / n_tok > 0.05
                THEN 'keep' ELSE 'flag' END           AS quality_bucket
    FROM base
    ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (north-star text analysis): length, stopword
    ratio, punctuation ratio, and a keep/flag bucket — the C4/Gopher-
    style heuristics, as single-pass column expressions."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    n = F.length("text")
    n_tok = F.size(tokens("text"))
    n_stop = F.size(F.regexp_extract_all(F.col("text"), F.lit("\\b(the|a|of|and|to|in|is)\\b"), F.lit(0)))
    n_punct = F.length(F.regexp_replace("text", "[^.!?,;]", ""))
    stop_ratio = n_stop.cast("double") / n_tok
    return (
        d.select(
            "doc_id", "lang",
            n_tok.alias("n_tokens"),
            F.round(n.cast("double") / n_tok, 4).alias("avg_token_len"),
            F.round(stop_ratio, 4).alias("stopword_ratio"),
            F.round(n_punct.cast("double") / n, 4).alias("punct_ratio"),
            F.when((n_tok >= 20) & (stop_ratio > 0.05), "keep").otherwise("flag").alias("quality_bucket"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_exact_fingerprint",
    oracle="""
    SELECT md5(LOWER(TRIM(text)))  AS fp,
           MIN(doc_id)             AS keeper_doc_id,
           COUNT(*)                AS n_copies
    FROM documents
    GROUP BY fp
    ORDER BY fp
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint (north star; generalizes
    O-22/O-23): md5 of normalized text, keep the smallest id per
    group. At 100 TB: one shuffle on the 128-bit fingerprint — i.e.
    dedup cost is one hash-partitioned agg, never a self-join."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(fingerprint("text").alias("fp"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("fp")
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([LOWER(t[i]) || ' ' || LOWER(t[i+1]) || ' ' || LOWER(t[i+2])
                              FOR i IN range(1, GREATEST(len(t) - 1, 1))]) AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS t
              FROM documents WHERE LENGTH(TRIM(text)) > 0)
        WHERE len(t) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    ORDER BY doc_a
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard similarity on 3-token shingle sets (north-star
    near-dup primitive). The oracle-checkable form scores adjacent doc
    pairs; the scale path (candidate generation via MinHash LSH so the
    self-join never goes quadratic) is dedup_minhash_lsh (rows-only)."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # zip_with shingling from the dedup operator (single split per row;
    # the transform-over-indices form re-evaluates split per element)
    sh = d.select(
        "doc_id", shingles(F.col("text"), 3).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .orderBy("doc_a")
    )


@query(
    "docs_lang_distribution",
    oracle="""
    SELECT COALESCE(lang, 'und') AS lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def docs_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition: docs and volume per (language, source) —
    the per-category accounting shape of O-30 applied to a corpus."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.coalesce("lang", F.lit("und")).alias("lang"), "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("long").alias("total_chars"))
        .orderBy("lang", "source")
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text)               AS payload_sha256
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checkable slice: treat content as an
    opaque binary payload with typed metadata (byte length, sha256).
    The decode/feature-extract stages (stubbed — no codec libs in the
    container) live in operators/multimodal.py over mapInPandas."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return (
        d.select(
            "doc_id",
            F.octet_length(payload).alias("n_bytes"),
            F.lower(F.sha2(payload, 256)).alias("payload_sha256"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_winnowing",
    oracle="""
    WITH m AS (
        SELECT doc_id, LOWER(hex(encode(LOWER(text)))) AS h FROM documents
    ), byt AS (
        SELECT doc_id,
               [ 16 * (strpos('0123456789abcdef', h[2*j-1]) - 1)
                   + (strpos('0123456789abcdef', h[2*j]) - 1)
                 FOR j IN range(1, len(h) // 2 + 1) ] AS b
        FROM m
    ), grams AS (
        SELECT doc_id,
               [ (CAST(b[j+0] AS HUGEINT) * 74051159531521793 + CAST(b[j+1] AS HUGEINT) * 288136807515649 + CAST(b[j+2] AS HUGEINT) * 1121154893057 + CAST(b[j+3] AS HUGEINT) * 4362470401 + CAST(b[j+4] AS HUGEINT) * 16974593 + CAST(b[j+5] AS HUGEINT) * 66049 + CAST(b[j+6] AS HUGEINT) * 257 + CAST(b[j+7] AS HUGEINT) * 1) % 18446744073709551616
                 FOR j IN range(1, len(b) - 6) ] AS g
        FROM byt WHERE len(b) >= 15
    ), mins AS (
        SELECT doc_id,
               list_distinct([ list_min(g[j : j+7])
                               FOR j IN range(1, len(g) - 6) ]) AS fps
        FROM grams
    ), fps AS (
        SELECT doc_id,
               CAST(CASE WHEN u.fp >= 9223372036854775808
                         THEN u.fp - 18446744073709551616
                         ELSE u.fp END AS BIGINT) AS fp
        FROM mins, UNNEST(fps) AS u(fp)
    ), rare AS (
        SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 20
    ), pruned AS (
        SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY id_a, id_b HAVING COUNT(*) >= 3
    ORDER BY id_a, id_b
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprint near-dup (north star; the
    MOSS algorithm — operators/dedup.py::winnowing_pairs). Guarantee:
    any shared substring >= w+k-1 chars produces a shared fingerprint;
    pairs sharing >= 3 fingerprints surface; fingerprints in > 20 docs
    are the MOSS stop-fingerprint cut. Substring-match guarantee and
    density are property-tested in tests/test_winnowing.py.

    PROMOTED rows-only -> full oracle in r04: the fingerprint is a
    base-257 polynomial over lowercased UTF-8 bytes in uint64
    wraparound — plain arithmetic, no engine-specific hash — so DuckDB
    restates the WHOLE pipeline (byte extraction from
    hex(encode(...)), k-gram polynomial mod 2**64 in HUGEINT, windowed
    min, distinct, df cut, pair count) and value-checks the numpy
    mapInPandas kernel end to end."""
    from ..operators.dedup import winnowing_pairs
    d = load_table(spark, sf_dir, "documents")
    # w=8: fingerprint density 2/(w+1) = ~22% of positions — halves the
    # fp-index volume vs w=4 while still guaranteeing detection of any
    # shared substring >= 15 chars
    return winnowing_pairs(d, k=8, w=8, min_shared=3)


# PII patterns written lookahead-free so Java regex (Spark) and RE2
# (DuckDB) agree byte-for-byte. The documents fixture is synthetic
# word-soup with no natural PII, so the query derives a deterministic
# PII-bearing column first (same derivation in the oracle) — the
# point under test is the redaction operator, not the fixture.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{3,8}"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH pii AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or +1-555-' || doc_id AS text
        FROM documents
        WHERE LENGTH(TRIM(text)) > 0
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}'))  AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}'))  AS n_phones,
           LENGTH(regexp_replace(regexp_replace(text,
                  '{_EMAIL_RE}', '[EMAIL]', 'g'),
                  '{_PHONE_RE}', '[PHONE]', 'g'))        AS n_chars_redacted
    FROM pii
    ORDER BY doc_id
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (north-star text analysis): count and redact
    emails/phones into [EMAIL]/[PHONE] placeholders. Single
    projection pass, codegen'd regexes, no shuffle — the shape of
    every masking pass a training-data pipeline runs before release.
    Patterns are lookahead-free so the DuckDB oracle value-checks the
    redacted lengths exactly."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    pii_text = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"),
        F.lit("@example.com or +1-555-"), F.col("doc_id"))
    redacted = F.regexp_replace(
        F.regexp_replace(pii_text, _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE, "[PHONE]")
    return (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all(pii_text, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
            F.size(F.regexp_extract_all(pii_text, F.lit(_PHONE_RE), 0)).alias("n_phones"),
            F.length(redacted).alias("n_chars_redacted"),
        )
        .orderBy("doc_id")
    )


@query(
    "fn_datetime_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE)                          AS order_date,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP)   AS due_ts,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE)  AS month_end,
           EXTRACT(YEAR FROM o_orderdate)::BIGINT             AS order_year,
           EXTRACT(QUARTER FROM o_orderdate)::BIGINT          AS order_quarter,
           dayofweek(o_orderdate)::BIGINT                     AS dow,
           strftime(o_orderdate, '%Y-%m')                     AS month_key
    FROM orders
    WHERE o_orderkey < 100
    ORDER BY o_orderkey
    """,
)
def fn_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar-function suite (O-16 family widened): date
    extraction, interval arithmetic, month-end, calendar parts,
    format keys — all NTZ-safe (no session-timezone coercion) and
    value-checked against DuckDB. DuckDB dayofweek is 0=Sunday;
    Spark dayofweek is 1=Sunday — normalized via -1."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    return (
        o.select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.timestamp_add("DAY", F.lit(30), F.col("o_orderdate")).alias("due_ts"),
            F.last_day("o_orderdate").alias("month_end"),
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.quarter("o_orderdate").cast("long").alias("order_quarter"),
            (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month_key"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "fn_collection_suite",
    oracle="""
    SELECT doc_id,
           array_to_string(
               list_sort(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+'))[1:5],
               ',')                                           AS first5_sorted,
           len(list_distinct(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')))
                                                             AS n_distinct,
           list_contains(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+'), 'spark')
                                                             AS has_spark,
           array_to_string(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')[1:3], '|')
                                                             AS first3_joined
    FROM documents
    WHERE LENGTH(TRIM(text)) > 0
    ORDER BY doc_id
    """,
)
def fn_collection_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection (array) scalar-function suite: sort, slice, distinct
    count, containment, join-to-string — the GIN-array-containment
    capability of the reference's schema (create_table.sql:76-81 GIN
    on authors/categories) expressed as native array functions, all
    codegen'd, value-checked against DuckDB list functions.

    Every output column is a SCALAR projection of the arrays
    (array_join/size/element-contains): the driver's pandas
    canonicalizer sorts+hashes result columns and cannot factorize
    list-typed cells, so arrays must never escape the query."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.lower(F.trim(F.col("text"))), WS_CLASS)
    toks_cased = F.split(F.trim(F.col("text")), WS_CLASS)
    return (
        d.select(
            "doc_id",
            F.array_join(F.slice(F.array_sort(toks), 1, 5), ",").alias("first5_sorted"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
            F.array_contains(toks, "spark").alias("has_spark"),
            F.array_join(F.slice(toks_cased, 1, 3), "|").alias("first3_joined"),
        )
        .orderBy("doc_id")
    )


from ..operators.dedup import EDITDIST_PAIRS_ORACLE_CTE  # noqa: E402


@query(
    "dedup_editdistance",
    oracle=f"""
    WITH {EDITDIST_PAIRS_ORACLE_CTE}
    SELECT id_a, id_b, edit_dist FROM pairs
    ORDER BY id_a, id_b
    """,
)
def dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup on document heads, with BOUNDED
    normalized-prefix blocking (operators/dedup.py::
    editdistance_pair_edges): the quadratic levenshtein only runs
    inside 16-normalized-char prefix buckets hard-capped at 64
    members, so total work is linear in the corpus for ANY input
    distribution — the r03 block-skew scale hazard (VERDICT "What's
    wrong" #1) is closed by construction, not by hoping the data
    cooperates. Value-checked against DuckDB's levenshtein."""
    from ..operators.dedup import editdistance_pair_edges
    d = load_table(spark, sf_dir, "documents")
    return editdistance_pair_edges(d).orderBy("id_a", "id_b")


@query(
    "docs_vocabulary_topk",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    )
    SELECT term, COUNT(*) AS freq
    FROM toks WHERE LENGTH(term) > 0
    GROUP BY term
    ORDER BY freq DESC, term
    LIMIT 100
    """,
)
def docs_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building (tokenizer-training precursor): global token
    frequency top-k. One explode + one map-side-combined agg +
    TakeOrderedAndProject — the canonical word-count whose plan shape
    is exactly what a 100 TB vocab scan needs (the shuffle moves one
    row per distinct term per partition, not per token)."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return (
        d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), WS_CLASS)).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term").agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(100)
    )


@query(
    "text_repetition_score",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               [LOWER(t[i]) || ' ' || LOWER(t[i+1]) || ' ' || LOWER(t[i+2])
                FOR i IN range(1, GREATEST(len(t) - 1, 1))] AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS t
              FROM documents WHERE LENGTH(TRIM(text)) > 0)
        WHERE len(t) >= 3
    )
    SELECT doc_id,
           len(shingles)                                 AS n_shingles,
           len(list_distinct(shingles))                  AS n_distinct,
           ROUND(1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
                 / len(shingles), 4)                     AS repetition,
           CASE WHEN 1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
                     / len(shingles) > 0.5
                THEN 'flag' ELSE 'keep' END              AS repetition_bucket
    FROM sh
    ORDER BY doc_id
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-style quality rule): the
    duplicate fraction of 3-token shingles — looping/boilerplate text
    scores high and gets flagged. Single projection pass (the shingle
    arrays never leave their row), no shuffle, value-checked."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.col("text")), WS_CLASS)
    all_sh = F.filter(
        F.zip_with(
            F.zip_with(F.transform(toks, lambda x: F.lower(x)),
                       F.slice(F.transform(toks, lambda x: F.lower(x)), 2, F.size(toks)),
                       lambda a, b: F.concat(a, F.lit(" "), b)),
            F.slice(F.transform(toks, lambda x: F.lower(x)), 3, F.size(toks)),
            lambda ab, c: F.concat(ab, F.lit(" "), c)),
        lambda x: x.isNotNull())
    rep = (F.lit(1.0)
           - F.size(F.array_distinct(all_sh)).cast("double") / F.size(all_sh))
    return (
        d.filter(F.size(toks) >= 3)
        .select(
            "doc_id",
            F.size(all_sh).alias("n_shingles"),
            F.size(F.array_distinct(all_sh)).alias("n_distinct"),
            F.round(rep, 4).alias("repetition"),
            F.when(rep > 0.5, "flag").otherwise("keep").alias("repetition_bucket"),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_decontamination",
    oracle="""
    WITH sh AS (
        SELECT doc_id, source,
               list_distinct([LOWER(t[i]) || ' ' || LOWER(t[i+1]) || ' ' ||
                              LOWER(t[i+2]) || ' ' || LOWER(t[i+3]) || ' ' ||
                              LOWER(t[i+4])
                              FOR i IN range(1, GREATEST(len(t) - 3, 1))]) AS shingles
        FROM (SELECT doc_id, source, regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS t
              FROM documents WHERE LENGTH(TRIM(text)) > 0)
        WHERE len(t) >= 5
    )
    SELECT tr.doc_id       AS train_doc_id,
           bm.doc_id       AS benchmark_doc_id,
           len(list_intersect(tr.shingles, bm.shingles)) AS n_shared_5grams
    FROM sh tr JOIN sh bm
      ON tr.source <> 'src0' AND bm.source = 'src0'
     AND len(list_intersect(tr.shingles, bm.shingles)) >= 2
    ORDER BY train_doc_id, benchmark_doc_id
    """,
)
def docs_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >= 2
    distinct 5-gram shingles with any benchmark doc (source 'src0'
    stands in for the held-out benchmark). The Spark plan is the
    sub-quadratic form — explode shingles, EQUI-join train to
    benchmark on the shingle hash (shuffle by shingle, the benchmark
    side is tiny and broadcast), count shared shingles per pair. The
    DuckDB oracle states the naive all-pairs intersect form, so the
    equi-join rewrite is value-checked against the quadratic
    definition."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    sh = (
        d.filter(F.size(F.split(F.trim(F.col("text")), WS_CLASS)) >= 5)
        .select("doc_id", "source",
                F.explode(F.array_distinct(shingles(F.col("text"), 5))).alias("shingle"))
        .filter(F.length("shingle") > 0)
        # join on the 64-bit shingle hash, not the 5-gram string: the
        # broadcast benchmark side carries 8-byte keys instead of
        # ~30-byte text, and the probe compares longs (collisions are
        # negligible and the >=2-shared cut absorbs a stray one)
        .select("doc_id", "source", F.xxhash64("shingle").alias("shingle"))
    )
    train = (sh.filter(F.col("source") != "src0")
             .select(F.col("doc_id").alias("train_doc_id"), "shingle"))
    bench = (sh.filter(F.col("source") == "src0")
             .select(F.col("doc_id").alias("benchmark_doc_id"), "shingle"))
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("train_doc_id", "benchmark_doc_id")
        .agg(F.count("*").alias("n_shared_5grams"))
        .filter(F.col("n_shared_5grams") >= 2)
        .orderBy("train_doc_id", "benchmark_doc_id")
    )


@query(
    "text_normalize_nfc",
    oracle="""
    WITH accented AS (
        SELECT doc_id,
               SUBSTR(text, 1, 20) || ' cafe' || chr(769)
                    || ' ' || chr(64257) || 'ne A' || chr(778) AS raw
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    )
    SELECT doc_id,
           LENGTH(raw)                 AS len_raw,
           LENGTH(nfc_normalize(raw))  AS len_nfc,
           nfc_normalize(raw)          AS text_nfc
    FROM accented
    ORDER BY doc_id
    """,
)
def text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (operators/textstats.py::
    normalize_nfc, Arrow-batched — Spark has no builtin normalizer).
    The fixture is ASCII, so a combining-mark suffix is derived
    deterministically on both sides; the oracle is DuckDB's
    nfc_normalize, checked byte-for-byte. Canonical form is the
    precondition for hash dedup: 'e'+U+0301 and U+00E9 must
    fingerprint identically."""
    from ..operators.textstats import normalize_nfc
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    raw = F.concat(
        F.substring("text", 1, 20), F.lit(" cafe\u0301 \ufb01ne A\u030a"))
    with_raw = d.select("doc_id", raw.alias("raw"))
    return (
        normalize_nfc(with_raw, text_col="raw", out_col="text_nfc")
        .select("doc_id",
                F.length("raw").alias("len_raw"),
                F.length("text_nfc").alias("len_nfc"),
                "text_nfc")
        .orderBy("doc_id")
    )


@query(
    "fn_string_suite",
    oracle="""
    SELECT doc_id,
           lpad(CAST(doc_id AS VARCHAR), 8, '0')          AS padded_id,
           split_part(source, 'c', 2)                     AS src_num,
           strpos(lang, 'e')::BIGINT                      AS e_pos,
           translate(lang || '.' || source, '.', '/')     AS slashed,
           reverse(lang)                                  AS lang_rev,
           repeat(lang, 2)                                AS lang2,
           CASE WHEN LENGTH(text) >= 10
                THEN SUBSTR(text, LENGTH(text) - 9, 10)
                ELSE text END                             AS tail10
    FROM documents
    ORDER BY doc_id
    """,
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function suite (O-14/O-16 family widened): pad,
    split-part, position, translate, reverse, repeat, tail-substring.
    All codegen'd; value-checked against DuckDB's identically-named
    functions (both follow the 1-based SQL position convention)."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    return (
        d.select(
            "doc_id",
            F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
            F.split_part(F.col("source"), F.lit("c"), F.lit(2)).alias("src_num"),
            F.instr("lang", "e").cast("long").alias("e_pos"),
            F.translate(F.concat_ws(".", "lang", "source"), ".", "/").alias("slashed"),
            F.reverse("lang").alias("lang_rev"),
            F.repeat("lang", 2).alias("lang2"),
            F.when(n >= 10, F.substring(F.col("text"), n - 9, 10))
            .otherwise(F.col("text")).alias("tail10"),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_curation_funnel",
    oracle="""
    WITH nonempty AS (
        SELECT * FROM documents WHERE LENGTH(TRIM(text)) > 0
    ), quality AS (
        SELECT * FROM nonempty
        WHERE len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) >= 20
          AND CAST(len(regexp_extract_all(text,
                '\\b(the|a|of|and|to|in|is)\\b')) AS DOUBLE)
              / len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) > 0.05
    ), deduped AS (
        SELECT md5(LOWER(TRIM(text))) AS fp, MIN(doc_id) AS keeper
        FROM quality GROUP BY fp
    )
    SELECT 'raw' AS stage, (SELECT COUNT(*) FROM documents) AS n_docs, 0 AS stage_order
    UNION ALL SELECT 'nonempty', (SELECT COUNT(*) FROM nonempty), 1
    UNION ALL SELECT 'quality_keep', (SELECT COUNT(*) FROM quality), 2
    UNION ALL SELECT 'exact_dedup', (SELECT COUNT(*) FROM deduped), 3
    ORDER BY stage_order
    """,
)
def docs_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone curation funnel: the corpus-cleaning pipeline's stage
    counts in one query — raw -> non-empty -> quality keep (length +
    stopword-ratio rules, same thresholds as text_quality_score) ->
    exact-dedup survivors. Each stage is a filter/agg over the
    previous one, so lineage is a single DAG: Spark computes all four
    counts from ONE scan lineage (the intermediate frames share the
    parquet scan), where the oracle re-states each stage as a
    subquery. This is the report a training-data pipeline publishes
    per ingest batch."""
    d = load_table(spark, sf_dir, "documents")
    nonempty = d.filter(F.length(F.trim("text")) > 0)
    n_tok = F.size(F.split(F.trim(F.col("text")), WS_CLASS))
    n_stop = F.size(F.regexp_extract_all(
        F.col("text"), F.lit("\\b(the|a|of|and|to|in|is)\\b"), F.lit(0)))
    quality = nonempty.filter(
        (n_tok >= 20) & (n_stop.cast("double") / n_tok > 0.05))
    deduped = quality.groupBy(
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp")).agg(
        F.min("doc_id").alias("keeper"))

    def stage(name: str, df: DataFrame, order: int) -> DataFrame:
        return df.agg(F.count("*").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs",
            F.lit(order).cast("int").alias("stage_order"))

    return (
        stage("raw", d, 0)
        .unionByName(stage("nonempty", nonempty, 1))
        .unionByName(stage("quality_keep", quality, 2))
        .unionByName(stage("exact_dedup", deduped, 3))
        .orderBy("stage_order")
    )


@query(
    "docs_chunk_sliding",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    ), chunks AS (
        SELECT doc_id,
               CAST((s - 1) / 24 AS BIGINT)               AS chunk_id,
               list_slice(toks, s, LEAST(s + 31, len(toks))) AS chunk
        FROM t, UNNEST(range(1, len(toks) + 1, 24)) AS u(s)
    )
    SELECT doc_id, chunk_id,
           len(chunk)                        AS n_chunk_tokens,
           array_to_string(chunk, ' ')      AS chunk_text
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
)
def docs_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (window 32 tokens, stride 24,
    8-token overlap) — the context-window splitter every LLM training
    pipeline runs before tokenization/packing. Pure codegen'd array
    ops: one ``sequence`` of chunk starts per doc, explode, ``slice``
    — no Python, no shuffle until the output sort; chunk count is
    ceil(n_tok/stride), so output size is linear in corpus tokens.
    Tail chunks are shorter by construction (slice clamps); empty
    docs yield no chunks."""
    window, stride = 32, 24
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.lower(F.trim(F.col("text"))), WS_CLASS)
    t = d.select("doc_id", toks.alias("toks"))
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(stride))
    return (
        t.select("doc_id", "toks", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            ((F.col("s") - 1) / stride).cast("long").alias("chunk_id"),
            F.slice(F.col("toks"), F.col("s"), F.lit(window)).alias("chunk"))
        .select(
            "doc_id", "chunk_id",
            F.size("chunk").alias("n_chunk_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "fn_null_semantics_suite",
    oracle="""
    SELECT doc_id,
           NULLIF(lang, 'en')                              AS lang_nulled,
           (NULLIF(lang, 'en') IS NOT DISTINCT FROM
            NULLIF(source, 'src0'))                        AS nullsafe_eq,
           COALESCE(NULLIF(lang, 'en'), 'fallback')        AS coalesced,
           CASE WHEN NULLIF(n_chars, 0) > 100 THEN 'big'
                WHEN NOT (NULLIF(n_chars, 0) > 100) THEN 'small'
                ELSE 'unknown' END                         AS three_valued
    FROM documents ORDER BY doc_id
    """,
)
def fn_null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics parity suite (§2.B depth): NULLIF production,
    null-safe equality (Spark ``<=>`` ≡ SQL ``IS NOT DISTINCT FROM``
    — NULL<=>NULL is TRUE where ``=`` yields NULL), COALESCE
    fallback, and three-valued logic through a CASE whose NOT-branch
    swallows the UNKNOWN path (NULL > 100 is neither TRUE nor its
    negation — both engines must route it to ELSE). Pure projection,
    zero shuffle; these are exactly the semantics an engine port gets
    subtly wrong, pinned here value-by-value."""
    d = load_table(spark, sf_dir, "documents")
    lang_n = F.nullif(F.col("lang"), F.lit("en"))
    src_n = F.nullif(F.col("source"), F.lit("src0"))
    big = F.nullif(F.col("n_chars"), F.lit(0)) > 100
    return (
        d.select(
            "doc_id",
            lang_n.alias("lang_nulled"),
            lang_n.eqNullSafe(src_n).alias("nullsafe_eq"),
            F.coalesce(lang_n, F.lit("fallback")).alias("coalesced"),
            F.when(big, "big").when(~big, "small").otherwise("unknown")
             .alias("three_valued"),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_curation_decisions",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               LENGTH(TRIM(text)) = 0 AS is_empty,
               len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tok,
               CAST(len(regexp_extract_all(text,
                    '\\b(the|a|of|and|to|in|is)\\b')) AS DOUBLE) AS n_stop,
               md5(LOWER(TRIM(text))) AS fp
        FROM documents
    ), flagged AS (
        SELECT doc_id, is_empty, n_tok, fp,
               NOT is_empty AND n_tok >= 20 AND n_stop / n_tok > 0.05
                   AS quality_ok
        FROM base
    ), keepers AS (
        SELECT doc_id, is_empty, n_tok, quality_ok,
               MIN(CASE WHEN quality_ok THEN doc_id END)
                   OVER (PARTITION BY fp) AS keeper
        FROM flagged
    ), verdicts AS (
        SELECT doc_id,
               CASE WHEN is_empty THEN 'empty'
                    WHEN n_tok < 20 THEN 'too_short'
                    WHEN NOT quality_ok THEN 'low_stopword'
                    WHEN doc_id <> keeper THEN 'exact_dup'
                    ELSE 'keep' END AS verdict,
               CASE WHEN quality_ok THEN keeper END AS keeper_doc_id
        FROM keepers
    )
    SELECT doc_id, verdict, keeper_doc_id, (verdict = 'keep') AS kept
    FROM verdicts ORDER BY doc_id
    """,
)
def docs_curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel's user-facing twin: a PER-DOCUMENT decision table —
    first failing stage as a verdict ('empty' | 'too_short' |
    'low_stopword' | 'exact_dup' | 'keep'), plus keeper provenance for
    exact-dup drops (the doc that survived in this doc's place). Same
    thresholds as docs_curation_funnel/text_quality_score, so the
    funnel's stage counts are exactly this table's verdict histogram;
    this is the table a pipeline materializes to EXPLAIN a cleaned
    corpus, not just count it.

    Scale shape: ONE scan of the corpus, one narrow shuffle. The
    keeper is a window over a salted partition key — the fingerprint
    for quality docs (content-diverse by construction, no hot key), a
    per-row unique sentinel key for non-quality docs, so the
    all-empty-docs fingerprint never forms a hot window partition (the
    r01 skew class this repo polices). The shuffled row is ~50 bytes
    (id + flags + fp — text is projected away before the exchange), so
    at lake scale one narrow shuffle beats the previous
    groupBy-join-union form, which re-scanned and re-regexed the
    corpus once per stratum (3 FileScans in the r05 plan — the
    0.14→0.54 s regression the r05 verdict flagged)."""
    return curation_decision_table(load_table(spark, sf_dir, "documents"))


def curation_decision_table(d: DataFrame) -> DataFrame:
    """docs_curation_decisions' engine over ANY documents-shaped frame
    (doc_id, text) — reused by the composed corpus pipeline (etl.py)
    so the end-to-end chain runs EXACTLY the oracled operator."""
    is_empty = F.length(F.trim("text")) == 0
    n_tok = F.size(F.split(F.trim(F.col("text")), WS_CLASS))
    n_stop = F.size(F.regexp_extract_all(
        F.col("text"), F.lit("\\b(the|a|of|and|to|in|is)\\b"), F.lit(0)))
    quality_ok = (~is_empty & (n_tok >= 20)
                  & (n_stop.cast("double") / n_tok > 0.05))
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    flagged = d.select(
        "doc_id", is_empty.alias("is_empty"), n_tok.alias("n_tok"),
        quality_ok.alias("quality_ok"), fp.alias("fp"))
    # Salted window key: quality docs group by fingerprint (diverse,
    # no hot key); non-quality docs get singleton keys (\x00 prefix
    # cannot collide with an md5 hex fp), so the shared empty/short
    # fingerprints never serialize through one window task. One scan,
    # one shuffle of ~50-byte rows.
    wkey = F.when(F.col("quality_ok"), F.col("fp")).otherwise(
        F.concat(F.lit("\x00nq:"), F.col("doc_id").cast("string")))
    keeper = F.min(F.when(F.col("quality_ok"), F.col("doc_id"))).over(
        W.partitionBy("wkey"))
    return (
        flagged.withColumn("wkey", wkey)
        .withColumn("_keeper", keeper)
        .select(
            "doc_id",
            F.when(F.col("is_empty"), "empty")
             .when(F.col("n_tok") < 20, "too_short")
             .when(~F.col("quality_ok"), "low_stopword")
             .when(F.col("doc_id") != F.col("_keeper"), "exact_dup")
             .otherwise("keep").alias("verdict"),
            F.when(F.col("quality_ok"), F.col("_keeper"))
             .alias("keeper_doc_id"))
        .select("doc_id", "verdict", "keeper_doc_id",
                (F.col("verdict") == "keep").alias("kept"))
        .orderBy("doc_id")
    )


def _bpe_encode_oracle() -> str:
    """DuckDB restatement of operators/bpe.py::_encode_word over the
    PINNED merge artifact: a recursive CTE per DISTINCT word that, at
    each level, ranks every adjacent symbol pair against the merge
    list (list_position over {a, b} STRUCT literals — collision-proof
    for any token content; 1-based, so lower = earlier-trained =
    GPT-2 application order; 0 = not a merge), picks
    the lowest-ranked pair at its LEFTMOST position (list_position's
    first-occurrence rule = the kernel's strict < scan), splices the
    merge, and stops when no pair ranks. Recursion depth per word is
    bounded by word length; state is bounded by VOCABULARY, not corpus
    (the same reason the distributed trainer scales)."""
    from ..operators.bpe import PINNED_BPE_MERGES

    lit = "[" + ", ".join("{'a': '%s', 'b': '%s'}" % (a, b)
                          for a, b in PINNED_BPE_MERGES) + "]"
    return f"""
    WITH RECURSIVE words AS (
        SELECT doc_id, w
        FROM (SELECT doc_id,
                     UNNEST(regexp_split_to_array(TRIM(LOWER(text)),
                            '[ \\t\\n\\x0B\\f\\r]+')) AS w
              FROM documents
              WHERE LENGTH(TRIM(text)) > 0)
        WHERE LENGTH(w) > 0
    ), vocab AS (
        SELECT DISTINCT w FROM words
    ), enc(w, syms, step) AS (
        SELECT w, list_append(string_split(w, ''), '</w>'), 0 FROM vocab
        UNION ALL
        SELECT w,
               list_slice(syms, 1, bi - 1)
                 || [syms[bi] || syms[bi + 1]]
                 || list_slice(syms, bi + 2, length(syms)),
               step + 1
        FROM (SELECT w, syms, step, list_position(rks, best) AS bi
              FROM (SELECT w, syms, step, rks,
                           list_min(list_filter(rks, r -> r > 0)) AS best
                    FROM (SELECT w, syms, step,
                                 list_transform(range(1, length(syms)),
                                     i -> list_position({lit},
                                              {{'a': syms[i], 'b': syms[i + 1]}})) AS rks
                          FROM enc))
              WHERE best IS NOT NULL)
    ), final AS (
        SELECT w, length(syms) AS n_tok
        FROM (SELECT w, syms,
                     ROW_NUMBER() OVER (PARTITION BY w ORDER BY step DESC) AS rn
              FROM enc)
        WHERE rn = 1
    )
    SELECT words.doc_id, COUNT(*) AS n_words,
           CAST(SUM(f.n_tok) AS BIGINT) AS n_bpe_tokens
    FROM words JOIN final f ON words.w = f.w
    GROUP BY words.doc_id
    ORDER BY words.doc_id
    """


@query("docs_bpe_encode", oracle=_bpe_encode_oracle())
def docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION (the other half of
    docs_bpe_pair_counts): encode the corpus with the PINNED merge
    artifact (operators/bpe.py::PINNED_BPE_MERGES — the list
    train_bpe_merges learns at sf0.01, frozen the way real pipelines
    freeze a tokenizer) in one Arrow-batched pass with a distinct-word
    cache. Emits per-doc ``n_words | n_bpe_tokens``.

    PROMOTED rows-only -> full oracle in r06: with the artifact pinned
    the encode loop is a FIXED bounded iteration, and DuckDB restates
    it exactly (recursive-CTE lowest-rank-leftmost merge splicing per
    distinct word — see _bpe_encode_oracle; the pair lookup matches on
    {a, b} structs, so no token content can alias a merge). TRAINING (the
    sequential part that motivated the old rows-only rationale) stays
    covered by the docs_bpe_pair_counts oracle, the tests/test_bpe.py
    contracts (determinism, lossless segmentation, compression
    monotonicity, count bounds), and the distributed-vs-driver merge
    equivalence test.

    Tokenizer parity (r06 ADVICE): bpe_encode_stats now splits on the
    oracle's exact ASCII-whitespace regex (not Python str.split), and
    the n_words > 0 filter below mirrors the oracle's inner join on
    words — a doc passing length(trim(text)) > 0 but yielding zero
    words (tab/newline-only text; trim strips spaces only) is dropped
    identically on both engines instead of surfacing as a Spark-only
    (0, 0) row."""
    from ..operators.bpe import PINNED_BPE_MERGES, bpe_encode_stats

    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0)
    return (bpe_encode_stats(d, PINNED_BPE_MERGES)
            .filter(F.col("n_words") > 0).orderBy("doc_id"))
