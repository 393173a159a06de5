"""Multimodal column plumbing (north-star extension surface).

Design: image/audio/video payloads are opaque ``binary`` columns with
a typed metadata struct alongside (modality, mime, width/height or
duration, byte length, checksum). The Spark-side plumbing — schema,
partition-friendly layout, Arrow-batched UDF signatures — is real and
tested; the actual codec work is stubbed (no image/audio libraries in
this container) behind ``decode_fn`` hooks with a deterministic fake
for tests.

At scale: payloads dominate bytes, so operators here never shuffle the
binary column — metadata extraction and feature extraction are narrow
mapInPandas passes; anything needing grouping drops the payload first.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def attach_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Fill the metadata struct from the payload — pure column
    expressions (byte length + checksum); codec-derived fields stay
    null until a real decoder runs."""
    p = F.col(payload_col)
    return df.withColumn(
        "meta",
        F.struct(
            F.octet_length(p).cast("long").alias("n_bytes"),
            F.lower(F.sha2(p, 256)).alias("sha256"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ),
    )


def default_decode_stub(payload: bytes, modality: str) -> list[float]:
    """Deterministic fake 'decoder': 8 floats derived from payload
    bytes. Replace with a real codec (PIL/librosa/av) in production.

    Raises NotImplementedError for modalities the fake doesn't model.
    """
    if modality not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for modality {modality!r}")
    if not payload:
        return [0.0] * 8
    # stable per-byte-bucket histogram, normalized
    buckets = [0] * 8
    for b in payload[:4096]:
        buckets[b % 8] += 1
    total = float(sum(buckets)) or 1.0
    return [round(c / total, 6) for c in buckets]


def extract_features(df: DataFrame,
                     decode_fn: Callable[[bytes, str], list[float]] = default_decode_stub,
                     batch_size_hint: int = 256) -> DataFrame:
    """Arrow-batched feature extraction over mapInPandas.

    Input needs ``media_id, modality, payload``; output drops the
    payload (features only) so downstream shuffles move KB not GB.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                [float(x) for x in decode_fn(bytes(p) if p is not None else b"", m)]
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "feature": feats,
            })

    return df.select("media_id", "modality", "payload").mapInPandas(run, FEATURE_SCHEMA)


def media_phash_signatures(df: DataFrame, id_col: str = "media_id",
                           payload_col: str = "payload",
                           block_bytes: int = 8) -> DataFrame:
    """64-bit perceptual-hash-style signature over opaque BINARY
    payloads — byte-block histogram -> bit votes (r07 VERDICT item 4):
    the payload splits into ``block_bytes``-byte blocks (hex-domain,
    so the whole kernel is column algebra, no UDF, and bit-exactly
    DuckDB-restatable), each block is xxhash64'd, and the per-bit
    majority over block OCCURRENCES packs into one int64 — the SimHash
    vote kernel (operators/dedup.py::simhash_pack_votes) applied to
    binary content instead of tokens. A near-identical payload (a few
    modified blocks) flips few votes, so container-level near-dups
    land within small Hamming distance; a REAL codec deployment swaps
    the block features for decoded perceptual features (DCT bands,
    mel frames) in the same kernel. Empty payloads carry no signal
    and emit no signature row (mirrored by the oracle's inner
    unnest)."""
    width = block_bytes * 2  # hex chars per block
    ex = (
        df.filter(F.octet_length(payload_col) > 0)
        .select(id_col, F.lower(F.hex(F.col(payload_col))).alias("hx"))
        .select(id_col, F.explode(F.expr(
            f"transform(sequence(1, CAST(ceil(length(hx) / {width}.0) AS INT)), "
            f"j -> substring(hx, (j - 1) * {width} + 1, {width}))")).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    from .dedup import simhash_pack_votes

    return simhash_pack_votes(ex, id_col)


def media_phash_pairs(df: DataFrame, id_col: str = "media_id",
                      payload_col: str = "payload",
                      max_hamming: int = 3) -> DataFrame:
    """Multimodal near-dup pairs by perceptual-hash Hamming distance:
    ``(id_a, id_b, hamming)`` — pigeonhole 16-bit block join + exact
    ``bit_count(xor)`` verify, shared with the text SimHash family
    (sub-quadratic: shuffle by block value, never all-pairs). The
    payload bytes never shuffle — only the 8-byte signature does."""
    from .dedup import hamming_block_pairs

    sigs = media_phash_signatures(df, id_col, payload_col)
    return hamming_block_pairs(sigs, id_col, max_hamming=max_hamming)
