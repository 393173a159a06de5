"""Pinned-artifact topic scoring — the relational half of the topic
surface (r06 VERDICT item 1, the recipe that promoted SemDeDup and
BPE-encode in r06).

The reference declares a ``topic TEXT`` column it never populates
(reference src/utils/initial/create_table.sql:71, hardcoded ``None``
at src/etl/arxiv_etl.py:84) — a sanctioned extension point. LDA
TRAINING is float-schedule-dependent: online variational LDA's
posterior depends on float reduction order across minibatch
partitions, so no SQL engine can restate it. It runs once, in
``derive_topic_term_artifact``, whose output is pinned below. What
CAN be value-oracled cross-engine is topic APPLICATION against that
FROZEN model, exactly how production pipelines ship topic models:

    topic(d) = argmax_t  sum_{token occurrences w in d ∩ vocab}
                          logp_micros(w | t)

with ``logp_micros`` the log topic-term probability scaled by 1e6 and
ROUNDED TO INT64 at pin time. Integer scores make the per-(doc,topic)
sum EXACT and reduction-order-independent — Spark's partial aggregates
and DuckDB's SUM produce bit-identical totals, so the argmax (ties ->
lowest topic id) is deterministic on both engines with no float
epsilon anywhere. Out-of-vocabulary tokens contribute to no topic;
docs with zero in-vocab tokens are dropped by the inner join on both
engines (no score -> no verdict).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.scalars import WS_CLASS


def derive_topic_term_artifact(
    spark: SparkSession, sf_dir: str, k: int = 5, top_per_topic: int = 20,
    scale: int = 1_000_000,
) -> list[tuple[str, tuple[int, ...]]]:
    """Train the topic model (ASCII-ws RegexTokenizer ->
    StopWordsRemover -> CountVectorizer(minDF=2, vocabSize=2048) ->
    LDA(k, seed=42, maxIter=6)) on sf0.01 input pinned to ONE
    partition — single-partition input fixes online VB's minibatch
    composition, so reruns are bit-identical (the provenance test in
    tests/test_topics_score.py re-derives the pinned artifact) — and
    freeze the union of each topic's top ``top_per_topic`` terms as
    ``(term, (logp_micros_t0, ..., logp_micros_t{k-1}))`` sorted by
    term. Probabilities are per-topic column-normalized from
    ``topicsMatrix`` before the log/scale/round."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import (
        CountVectorizer,
        RegexTokenizer,
        StopWordsRemover,
    )

    from ..tables import load_table

    d = (load_table(spark, sf_dir, "documents")
         .filter(F.length(F.trim("text")) > 0)
         .select("doc_id", "text").coalesce(1))
    tok = RegexTokenizer(inputCol="text", outputCol="_toks",
                         pattern=WS_CLASS)
    stop = StopWordsRemover(inputCol="_toks", outputCol="_clean")
    cv = CountVectorizer(inputCol="_clean", outputCol="features",
                         vocabSize=2048, minDF=2.0)
    stage1 = stop.transform(tok.transform(d))
    cv_model = cv.fit(stage1)
    vec = cv_model.transform(stage1).select("doc_id", "features")
    model = LDA(k=k, seed=42, maxIter=6, featuresCol="features").fit(vec)

    vocab = cv_model.vocabulary
    mat = model.topicsMatrix().toArray()  # vocabSize x k
    col_sums = mat.sum(axis=0)
    keep: set[int] = set()
    for row in model.describeTopics(top_per_topic).collect():
        keep.update(int(i) for i in row["termIndices"])
    out = []
    for idx in keep:
        logps = tuple(
            int(round(math.log(mat[idx, t] / col_sums[t]) * scale))
            for t in range(k)
        )
        out.append((vocab[idx], logps))
    return sorted(out)


# Frozen artifact: derive_topic_term_artifact(spark, sf0.01) verbatim
# (scripts/derive_topic_artifact.py prints it; the provenance test in
# tests/test_topics_score.py re-derives and asserts equality — the
# PINNED_BPE_MERGES pattern from operators/bpe.py).
PINNED_TOPIC_TERMS: list[tuple[str, tuple[int, ...]]] = [
    ('agg', (-2919228, -3345621, -3700367, -3336358, -4321961)),
    ('batch', (-3603353, -3189218, -3157295, -3099401, -2840226)),
    ('big', (-3485288, -3932989, -3205170, -3208297, -2993059)),
    ('column', (-3163531, -3280661, -3174680, -3411643, -3567182)),
    ('customer', (-3526983, -3035508, -3156723, -3724839, -3270909)),
    ('data', (-3502633, -4087158, -3270996, -3130402, -3134850)),
    ('fast', (-3903119, -3806868, -2940242, -3619232, -4346111)),
    ('filter', (-2966871, -3885209, -3258118, -4061993, -3277921)),
    ('group', (-3327731, -3146926, -3330616, -3347637, -3740289)),
    ('hash', (-3578034, -3162827, -3294054, -3001476, -3794823)),
    ('join', (-2947724, -3909003, -3194855, -3929150, -3603118)),
    ('key', (-4764882, -2595990, -2960215, -4121024, -2907943)),
    ('line', (-3458443, -3335960, -3535424, -3203070, -3099303)),
    ('merge', (-3248323, -4153780, -3217824, -3619993, -3290580)),
    ('order', (-2830785, -3533233, -3475368, -3439155, -3503245)),
    ('part', (-3102834, -3772954, -3340397, -3393083, -2929870)),
    ('query', (-3800363, -3414587, -3763873, -2714290, -3540459)),
    ('row', (-3710935, -2977445, -3206973, -3910513, -3120202)),
    ('scan', (-2822089, -3554685, -3754599, -3107394, -3588223)),
    ('slow', (-3766298, -3077756, -3666419, -2904018, -3850643)),
    ('small', (-3071678, -3768342, -3151079, -3339250, -3102019)),
    ('sort', (-3376256, -4066108, -3281175, -3624747, -3189865)),
    ('spark', (-3298724, -3368120, -3516590, -3184060, -3296309)),
    ('stream', (-3659358, -3350604, -3750955, -3178387, -4049565)),
    ('table', (-3616992, -3053268, -3123967, -3279700, -2997669)),
    ('value', (-3464847, -2922493, -3499092, -2943610, -2861651)),
    ('vector', (-3118415, -2774871, -3697984, -3614501, -3571447)),
    ('window', (-3304822, -3189671, -3470138, -3489559, -4150159)),
]


def pinned_topic_frame(spark: SparkSession,
                       artifact: list[tuple[str, tuple[int, ...]]],
                       ) -> DataFrame:
    """The artifact as a tall broadcastable frame:
    ``term | topic | logp_micros`` (k rows per term — every pinned
    term scores against every topic, so each (doc, topic) group sums
    over the identical token set).

    Built as an INLINE struct-array literal, not createDataFrame: the
    Python-list path plans a ``Scan ExistingRDD`` (a Python-serialized
    RDD) as the broadcast build side, while the literal plans a
    codegen'd Generate over OneRowRelation — the whole query stays
    JVM-side (plan-asserted in tests/test_physical_plans.py). The
    literal is ONE ``F.expr`` SQL parse, not per-struct Column calls:
    building k x |vocab| structs through the Python Column API costs
    ~4 py4j round trips per struct (~1.3 s of plan-build at 140 rows,
    measured); a single expression string parses JVM-side in
    milliseconds."""
    def q(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    structs = ", ".join(
        f"named_struct('term', '{q(term)}', 'topic', CAST({t} AS INT), "
        f"'logp_micros', CAST({lp} AS BIGINT))"
        for term, logps in artifact for t, lp in enumerate(logps)
    )
    return spark.range(1).select(F.expr(f"inline(array({structs}))"))


def topic_scores(df: DataFrame,
                 artifact: list[tuple[str, tuple[int, ...]]],
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-doc topic assignment against a pinned artifact:
    ``id | topic_id | logp_micros | n_matched``.

    Shape at scale: one corpus scan -> explode to token occurrences ->
    broadcast hash join against the tiny pinned table (k x |vocab|
    rows, constant) -> one shuffle on (id, topic) for the exact int64
    partial-aggregated sum -> per-id window argmax. No UDF, no float
    in the verdict path — whole-stage codegen end to end."""
    spark = df.sparkSession
    pin = pinned_topic_frame(spark, artifact)
    toks = (
        df.select(id_col,
                  F.explode(F.split(F.lower(text_col), WS_CLASS))
                  .alias("term"))
        .filter(F.length("term") > 0)
    )
    scored = (
        toks.join(F.broadcast(pin), "term")
        .groupBy(id_col, "topic")
        .agg(F.sum("logp_micros").alias("logp_micros"),
             F.count(F.lit(1)).alias("n_matched"))
    )
    w = W.partitionBy(id_col).orderBy(F.desc("logp_micros"), F.asc("topic"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, F.col("topic").alias("topic_id"),
                "logp_micros", "n_matched")
    )


def topic_score_oracle_sql(artifact: list[tuple[str, tuple[int, ...]]],
                           ) -> str:
    """DuckDB restatement of topic_scores over the documents view:
    identical split regex, identical inner-join-on-vocab semantics,
    CAST(SUM AS BIGINT) to keep the exact int64 totals out of HUGEINT,
    identical (score DESC, topic ASC) argmax tie-break."""
    values = ", ".join(
        "('{}', {}, {})".format(term.replace("'", "''"), t, lp)
        for term, logps in artifact for t, lp in enumerate(logps)
    )
    return f"""
    WITH pin(term, topic, logp) AS (VALUES {values}),
    toks AS (
        SELECT doc_id, w AS term
        FROM (SELECT doc_id,
                     UNNEST(regexp_split_to_array(LOWER(text),
                            '{WS_CLASS}')) AS w
              FROM documents
              WHERE LENGTH(TRIM(text)) > 0)
        WHERE LENGTH(w) > 0
    ), scored AS (
        SELECT t.doc_id, p.topic,
               CAST(SUM(p.logp) AS BIGINT) AS logp_micros,
               COUNT(*) AS n_matched
        FROM toks t JOIN pin p ON t.term = p.term
        GROUP BY t.doc_id, p.topic
    )
    SELECT doc_id, CAST(topic AS INT) AS topic_id, logp_micros, n_matched
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY logp_micros DESC, topic ASC)
                        AS rnk
          FROM scored)
    WHERE rnk = 1
    ORDER BY doc_id
    """
