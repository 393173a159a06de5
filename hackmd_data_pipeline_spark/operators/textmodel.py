"""Pinned-artifact linear text classifier — model-based corpus
filtering (r08).

The production shape this restates: CCNet's fastText language filter
and FineWeb-Edu's quality classifier both ship a FROZEN linear model
and apply it corpus-wide as a keep/drop gate; training happens
elsewhere, application is the 100 TB data-path operation. Like
``operators/topics.py`` (the recipe that made topic scoring
value-oracle-able), the model is pinned as integer micro-weights:

    score(d) = sum_{token occurrences w in d ∩ vocab} weight_micros(w)
    keep(d)  = score(d) > 0

Integer scores make the per-doc sum EXACT and reduction-order
independent — Spark partial aggregates and DuckDB SUM agree bitwise,
so the verdict boolean is deterministic on both engines with no float
epsilon anywhere. Out-of-vocab tokens contribute nothing; docs with
zero in-vocab tokens get no verdict (inner-join semantics, both
engines).

The pinned weights are smoothed log-odds (Monroe et al. 2008's
"Fightin' Words" form, Laplace prior) of each vocabulary term between
the en-labeled documents and the rest of the sf0.01 corpus — a
frequency-profile discriminator (the fastText-langid feature family).
On this synthetic corpus all five langs share one 31-word vocabulary,
so the ceiling is low: measured accuracy 0.628 vs the lang column at
sf0.01 (majority baseline 0.564). The registry entry gates the
APPLICATION machinery — exact integer scoring, thresholding, join
semantics — not the synthetic corpus's separability; the planted
contract test in tests/test_textmodel.py pins the discriminative
behavior on unambiguous inputs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import WS_CLASS


def derive_domain_weights(spark: SparkSession, sf_dir: str,
                          target_lang: str = "en",
                          scale: int = 1_000_000,
                          ) -> list[tuple[str, int]]:
    """Train the frozen model: smoothed log-odds of every vocabulary
    term between target-labeled docs and the rest,

        w(t) = ln((c_t + 1) / (T_t + V)) - ln((c_r + 1) / (T_r + V))

    (c = term count, T = total tokens, V = vocab size; Laplace +1),
    scaled by 1e6 and ROUNDED TO INT64 at pin time. Deterministic:
    pure counting + one log per term on the driver."""
    from ..tables import load_table

    toks = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("lang") == target_lang).alias("is_t"),
                F.explode(F.split(F.lower(F.trim("text")), WS_CLASS))
                .alias("term"))
        .filter(F.length("term") > 0)
    )
    counts = (toks.groupBy("term")
              .agg(F.sum(F.col("is_t").cast("long")).alias("c_t"),
                   F.sum((~F.col("is_t")).cast("long")).alias("c_r"))
              .collect())
    T_t = sum(r.c_t for r in counts)
    T_r = sum(r.c_r for r in counts)
    V = len(counts)
    return sorted(
        (r.term,
         int(round((math.log((r.c_t + 1) / (T_t + V))
                    - math.log((r.c_r + 1) / (T_r + V))) * scale)))
        for r in counts
    )


# Frozen artifact: derive_domain_weights(spark, sf0.01) verbatim
# (scripts/derive_domain_artifact.py prints it; the provenance test in
# tests/test_textmodel.py re-derives and asserts equality — the
# PINNED_TOPIC_TERMS pattern from operators/topics.py).
PINNED_DOMAIN_WEIGHTS: list[tuple[str, int]] = [
    ('a', 83335), ('agg', -17867), ('batch', -15383),
    ('big', 100849), ('column', -57873), ('customer', -119650),
    ('data', -8899), ('dup', -165503), ('fast', -50657),
    ('filter', -25358), ('group', 96656), ('hash', 119903),
    ('join', -85855), ('key', 946), ('line', 658),
    ('merge', -41368), ('order', 160296), ('part', -27818),
    ('query', -89086), ('row', -13548), ('scan', -96707),
    ('slow', -95049), ('small', -77728), ('sort', 90849),
    ('spark', 83335), ('stream', -24425), ('table', 137755),
    ('the', -65843), ('value', -46478), ('vector', -52420),
    ('window', 148043),
]


def pinned_weight_frame(spark: SparkSession,
                        artifact: list[tuple[str, int]]) -> DataFrame:
    """The artifact as a broadcastable ``term | weight_micros`` frame,
    built as ONE inline struct-array literal (the pinned_topic_frame
    lesson: createDataFrame plans a Python-serialized Scan
    ExistingRDD; per-struct Column calls cost ~4 py4j round trips
    each — a single F.expr parses JVM-side in milliseconds and the
    whole query stays codegen'd)."""
    def q(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    structs = ", ".join(
        f"named_struct('term', '{q(term)}', "
        f"'weight_micros', CAST({w} AS BIGINT))"
        for term, w in artifact
    )
    return spark.range(1).select(F.expr(f"inline(array({structs}))"))


def classifier_scores(df: DataFrame,
                      artifact: list[tuple[str, int]],
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-doc frozen-model verdict:
    ``id | score_micros | n_matched | keep``.

    Shape at scale (the topic_scores plan): one corpus scan -> explode
    to token occurrences -> broadcast hash join against the pinned
    vocabulary (constant-size) -> ONE shuffle on id for the exact
    int64 partial-aggregated sum. No UDF, no float anywhere —
    whole-stage codegen end to end; the keep boolean is an integer
    sign test."""
    spark = df.sparkSession
    pin = pinned_weight_frame(spark, artifact)
    toks = (
        df.select(id_col,
                  F.explode(F.split(F.lower(F.trim(text_col)), WS_CLASS))
                  .alias("term"))
        .filter(F.length("term") > 0)
    )
    return (
        toks.join(F.broadcast(pin), "term")
        .groupBy(id_col)
        .agg(F.sum("weight_micros").alias("score_micros"),
             F.count(F.lit(1)).alias("n_matched"))
        .withColumn("keep", F.col("score_micros") > 0)
    )


def classifier_oracle_sql(artifact: list[tuple[str, int]]) -> str:
    """DuckDB restatement over the documents view: identical split
    regex, identical inner-join-on-vocab semantics, CAST(SUM AS
    BIGINT) to keep exact int64 totals out of HUGEINT, identical
    strict-positive keep test."""
    values = ", ".join(
        "('{}', {})".format(term.replace("'", "''"), w)
        for term, w in artifact
    )
    return f"""
    WITH pin(term, weight_micros) AS (VALUES {values}),
    toks AS (
        SELECT doc_id, UNNEST(regexp_split_to_array(
                   LOWER(TRIM(text)), '{WS_CLASS}')) AS term
        FROM documents
    )
    SELECT t.doc_id,
           CAST(SUM(p.weight_micros) AS BIGINT) AS score_micros,
           COUNT(*) AS n_matched,
           CAST(SUM(p.weight_micros) AS BIGINT) > 0 AS keep
    FROM toks t JOIN pin p ON t.term = p.term
    WHERE LENGTH(t.term) > 0
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """
