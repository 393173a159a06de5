"""DSIR-style importance selection — hashed-n-gram importance
weighting for targeted data selection (r08).

The shape this restates: Xie et al. 2023 (arXiv:2302.03169, "Data
Selection for Language Models via Importance Resampling") estimate a
per-document importance weight as the log-likelihood ratio of TARGET
vs RAW hashed n-gram distributions and keep the highest-importance
slice of the raw corpus under a token budget. Hashing is the defining
trait — the feature space is a fixed bucket count regardless of vocab
size, so the model is a constant-size artifact at any corpus scale.

Pinned-artifact discipline (operators/topics.py, textmodel.py): the
per-bucket log-ratios

    w(b) = ln((c_t(b) + 1) / (T_t + B)) - ln((c_r(b) + 1) / (T_r + B))

(c_t/c_r = target/raw bigram-occurrence counts in bucket b, T =
totals, B = bucket count; Laplace +1) are frozen as INT64
micro-weights at derivation time, so per-doc importance is an EXACT
integer sum — reduction-order independent, bit-identical across
engines. The bucket function is ``pmod(xxhash64(bigram), 256)``,
restated bit-exactly in DuckDB via plans/oracle_helpers.py's XXH64
CTEs (B = 256 divides 2**64, so the unsigned/signed mod views agree).

Selection composes the distributed prefix sum
(operators/prefix.py::attach_running_total): rank docs by importance
per bigram (int64/int64 IEEE division — identical on both engines),
keep the prefix whose cumulative token count stays under the budget
fraction. No single-reducer window anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import WS_CLASS

DSIR_BUCKETS = 256


def _bigram_occurrences(df: DataFrame, id_col: str,
                        text_col: str) -> DataFrame:
    """``id | s`` — one row per token-BIGRAM occurrence (not a
    distinct set: DSIR weights are over occurrence distributions,
    unlike the shingle-SET machinery in operators/dedup.py)."""
    toks = df.select(
        id_col, F.split(F.lower(F.trim(text_col)), WS_CLASS).alias("t"))
    return (toks.filter(F.size("t") >= 2)
            .select(id_col,
                    F.explode(F.expr(
                        "transform(sequence(0, size(t) - 2), "
                        "i -> concat(t[i], ' ', t[i + 1]))")).alias("s")))


def derive_dsir_weights(spark: SparkSession, sf_dir: str,
                        target_lang: str = "en",
                        buckets: int = DSIR_BUCKETS,
                        scale: int = 1_000_000) -> list[tuple[int, int]]:
    """Fit the frozen importance model: hashed-bigram bucket counts
    for the target slice (lang == target_lang) and the raw corpus,
    folded to smoothed log-ratios, scaled by 1e6, rounded to INT64 at
    pin time. Every OBSERVED bucket is pinned (at B=256 and a 31-word
    vocab that is all of them); unobserved buckets contribute 0 via
    inner-join semantics at apply time."""
    from ..tables import load_table

    d = (load_table(spark, sf_dir, "documents")
         .filter(F.length(F.trim("text")) > 0))
    bg = _bigram_occurrences(d, "doc_id", "text")
    # bigram rows carry only (id, s) — re-attach the target flag
    flags = d.select("doc_id", (F.col("lang") == target_lang).alias("is_t"))
    counts = (
        bg.join(flags, "doc_id")
        .withColumn("bucket",
                    F.pmod(F.xxhash64("s"), F.lit(buckets)).cast("int"))
        .groupBy("bucket")
        .agg(F.sum(F.col("is_t").cast("long")).alias("c_t"),
             F.count(F.lit(1)).alias("c_r"))
        .collect()
    )
    T_t = sum(r.c_t for r in counts)
    T_r = sum(r.c_r for r in counts)
    return sorted(
        (int(r.bucket),
         int(round((math.log((r.c_t + 1) / (T_t + buckets))
                    - math.log((r.c_r + 1) / (T_r + buckets))) * scale)))
        for r in counts
    )


# Frozen artifact: derive_dsir_weights(spark, sf0.01) verbatim
# (scripts/derive_dsir_artifact.py prints it; provenance-tested in
# tests/test_dsir.py like PINNED_DOMAIN_WEIGHTS).
PINNED_DSIR_WEIGHTS: list[tuple[int, int]] = [
    (0, -255682), (1, -67249), (2, 156776), (3, -155598), (4, 260701),
    (5, 56576), (6, 248808), (7, -50238), (8, -273381), (9, -30820),
    (10, 41112), (11, -3718), (12, -518504), (13, -129039), (14, 33349),
    (15, -16952), (16, 99294), (17, -15074), (18, 57976), (19, -186370),
    (20, -126778), (21, -232138), (22, -26740), (23, 40276), (24, -282860),
    (25, 20380), (26, 43976), (27, -273381), (28, 24453), (29, -73965),
    (30, 111464), (31, -55658), (32, -155598), (33, 42472), (34, 163832),
    (35, 84831), (36, 6921), (37, 176536), (38, 86963), (39, -216223),
    (40, 3466), (41, -64627), (42, -128800), (43, 6281), (44, -149329),
    (45, -55515), (46, 91262), (47, -52839), (48, -84981), (49, 113036),
    (50, 278687), (51, 10387), (52, 87632), (53, 101312), (54, 14301),
    (55, -10479), (56, 148344), (57, 27373), (58, 419766), (59, -3258),
    (60, -51319), (61, -33431), (62, -119231), (63, 92863), (65, 91918),
    (66, -148218), (68, 52946), (69, 36774), (70, -81927), (71, -77988),
    (72, 34920), (73, -66519), (74, 52041), (75, 100668), (76, -155598),
    (77, -146630), (78, -213662), (79, 57976), (80, 18424), (81, -70153),
    (82, -59454), (83, -91060), (84, 125258), (86, -20546), (87, -47257),
    (88, -62072), (89, 52041), (90, 132084), (91, 299138), (92, 73815),
    (93, -24368), (94, -2836), (95, -22067), (96, -84371), (97, 176934),
    (98, -29184), (99, 203543), (100, 87632), (101, 53095), (102, 96992),
    (103, -143198), (104, 64944), (105, -130281), (106, -85160), (107, -72012),
    (108, 90584), (109, 275872), (110, 150546), (111, 78839), (112, -110056),
    (113, -157868), (114, 73815), (115, -28259), (116, 41112), (117, -210861),
    (118, 198174), (119, -143020), (120, 168451), (121, 168451), (122, 72424),
    (123, 95979), (124, 81440), (125, -103745), (126, -69782), (127, -116378),
    (128, 88281), (129, -65084), (130, 507), (131, -25545), (132, -28259),
    (133, -38542), (134, 22884), (135, -34970), (136, -337920), (137, -139850),
    (138, -119231), (139, 119962), (140, 153137), (141, 48385), (142, 55123),
    (143, 69780), (144, -9797), (145, -1448), (146, -144764), (147, 6921),
    (148, 63091), (149, -33431), (150, 9024), (151, 4685), (152, 113392),
    (153, 9481), (154, 105176), (155, 40792), (157, 132084), (158, 66944),
    (159, 71459), (160, 22884), (161, -44847), (162, -273381), (163, -340073),
    (164, -220272), (165, -147230), (167, -81490), (168, 204057), (169, -241120),
    (170, 83817), (171, -110230), (172, 106978), (173, -16336), (174, -364353),
    (175, 35091), (176, -26322), (177, 53190), (178, 149476), (179, -6067),
    (180, -119231), (182, 4250), (183, 91262), (184, -109078), (185, -183769),
    (186, 146899), (187, -76671), (188, 91732), (189, 299138), (190, 57976),
    (191, -22067), (192, -186370), (193, 48702), (194, -107589), (195, 183377),
    (196, 6204), (197, 14301), (198, 125258), (199, -70857), (200, -59311),
    (201, -114776), (202, -84981), (203, 100335), (204, 122694), (205, -91060),
    (206, 22884), (207, 47091), (208, -32219), (209, -142353), (210, 86274),
    (211, -22067), (212, -158718), (213, 70631), (214, 224457), (215, 52041),
    (216, 748), (217, 118661), (218, 45072), (219, -7678), (220, -1448),
    (222, -98440), (223, -201689), (224, -19147), (225, -467537), (226, -22067),
    (227, -121365), (228, 277266), (229, -100539), (230, -29972), (231, -24077),
    (232, 106108), (233, -94040), (234, -7678), (235, -88525), (236, 118290),
    (237, -11507), (238, 79898), (239, 110578), (240, 63091), (241, 86473),
    (242, -83976), (243, 16012), (244, -29184), (245, 101312), (247, 121034),
    (248, 143780), (249, 40276), (250, 11456), (251, -743385), (252, 18139),
    (253, -108302), (254, -111679), (255, 71459),
]


def pinned_bucket_frame(spark: SparkSession,
                        artifact: list[tuple[int, int]]) -> DataFrame:
    """``bucket | weight_micros`` as ONE inline struct-array literal
    (the pinned_topic_frame plan rationale: stays JVM-side)."""
    structs = ", ".join(
        f"named_struct('bucket', CAST({b} AS INT), "
        f"'weight_micros', CAST({w} AS BIGINT))"
        for b, w in artifact
    )
    return spark.range(1).select(F.expr(f"inline(array({structs}))"))


def dsir_importance(df: DataFrame, artifact: list[tuple[int, int]],
                    id_col: str = "doc_id",
                    text_col: str = "text",
                    buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-doc frozen importance: ``id | importance_micros | n_bg``.
    One corpus scan -> bigram explode -> JVM xxhash64 + pmod ->
    broadcast join the 256-row artifact -> ONE shuffle on id for the
    exact int64 partial-aggregated sum. No UDF, no float."""
    spark = df.sparkSession
    pin = pinned_bucket_frame(spark, artifact)
    bg = _bigram_occurrences(df, id_col, text_col)
    return (
        bg.withColumn("bucket",
                      F.pmod(F.xxhash64("s"), F.lit(buckets)).cast("int"))
        .join(F.broadcast(pin), "bucket")
        .groupBy(id_col)
        .agg(F.sum("weight_micros").alias("importance_micros"),
             F.count(F.lit(1)).alias("n_bg"))
    )


def dsir_select(df: DataFrame, artifact: list[tuple[int, int]],
                keep_frac: float = 0.25,
                id_col: str = "doc_id", text_col: str = "text",
                lang_col: str = "lang") -> DataFrame:
    """Importance-ranked token-budget selection, per-lang profile:
    rank scored docs by importance per bigram (DESC, id tiebreak),
    keep the prefix whose cumulative token count stays under
    ``keep_frac`` of the scored corpus's tokens, report
    ``lang | n_docs_selected | tokens_selected | importance_sum``.
    The global running total is the factored distributed prefix sum
    (attach_running_total), not a single-reducer window."""
    from .prefix import attach_running_total

    imp = dsir_importance(df, artifact, id_col, text_col)
    meta = df.select(
        id_col, lang_col,
        F.size(F.split(F.lower(F.trim(text_col)), WS_CLASS)).alias("n_tok"))
    base = (imp.join(meta, id_col)
            .withColumn("_ipb",
                        F.col("importance_micros") / F.col("n_bg")))
    ranked = attach_running_total(
        base, "n_tok", [F.desc("_ipb"), F.col(id_col)],
        cum_col="cum_tok", total_col="total_tok")
    return (
        ranked.filter(F.col("cum_tok") - F.col("n_tok")
                      < keep_frac * F.col("total_tok"))
        .groupBy(lang_col)
        .agg(F.count("*").alias("n_docs_selected"),
             F.sum("n_tok").alias("tokens_selected"),
             F.sum("importance_micros").alias("importance_sum"))
        .orderBy(lang_col)
    )
