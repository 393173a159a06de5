"""Text analysis operators (north-star extension surface).

Language ID is an n-gram/stopword heuristic built from column
expressions only — argmax over per-language evidence scores via
array_max on (score, lang) structs. Not SQL-oracle'd (heuristic), so
it registers rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import WS_CLASS

# Minimal high-frequency stopword evidence per language. Word-boundary
# regexes keep everything JVM-side; CJK detection is by script range.
_LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is|in|that|with|for)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|eine)\b",
    "es": r"\b(el|la|los|las|que|es|en|un|una|por)\b",
    "fr": r"\b(le|la|les|et|est|un|une|dans|pour|que)\b",
    "zh": r"[一-鿿]",
}


def lang_scores(text: Column) -> Column:
    """Array of (score, lang) structs; score = marker hits / tokens."""
    n_tok = F.greatest(F.size(F.split(F.trim(text), WS_CLASS)), F.lit(1))
    structs = [
        F.struct(
            (F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(0))).cast("double") / n_tok).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, pat in sorted(_LANG_MARKERS.items())
    ]
    return F.array(*structs)


def predict_lang(text: Column, min_score: float = 0.0) -> Column:
    """argmax language; 'und' when no evidence clears min_score."""
    best = F.array_max(lang_scores(text))
    return F.when(best["score"] > min_score, best["lang"]).otherwise(F.lit("und"))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``predicted_lang`` to a corpus. Single narrow scan."""
    return df.withColumn("predicted_lang", predict_lang(F.col(text_col)))


def lang_id_confusion(df: DataFrame, text_col: str = "text",
                      label_col: str = "lang") -> DataFrame:
    """Confusion counts label x prediction (rows-only diagnostic)."""
    return (
        lang_id(df, text_col)
        .groupBy(F.col(label_col).alias("true_lang"), "predicted_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("true_lang", "predicted_lang")
    )


def normalize_nfc(df: DataFrame, text_col: str = "text",
                  out_col: str = "text_nfc") -> DataFrame:
    """Unicode NFC normalization (combining marks composed, ligature
    codepoints preserved — NFC, not NFKC) as one Arrow-batched
    mapInPandas pass. Spark has no built-in unicode normalizer, and a
    row-at-a-time UDF would pay per-row serde; pandas' .str.normalize
    runs the ICU-equivalent path per batch. Canonical-form text is a
    precondition for every hash-based dedup family: byte-different
    but canonically-equal strings must fingerprint identically.
    """
    from pyspark.sql import types as T

    def norm(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[text_col].astype("string").str.normalize("NFC")
            yield pdf

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.StringType())])
    return df.mapInPandas(norm, out_schema)
