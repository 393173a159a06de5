"""Unit tests for extension operators not fully covered by the oracle
gate: as-of join directions/edges, multimodal decode-stub determinism
and the NotImplementedError contract for unknown modalities.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hackmd_data_pipeline_spark.operators.joins import asof_join
from hackmd_data_pipeline_spark.operators.multimodal import (
    default_decode_stub, extract_features)

from .conftest import local_df


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, minute, 0)


@pytest.fixture(scope="module")
def quotes_trades(spark):
    trades = spark.createDataFrame(
        [(1, _ts(5), "t1"), (1, _ts(10), "t2"), (2, _ts(7), "t3")],
        T.StructType([
            T.StructField("sym", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("trade_id", T.StringType()),
        ]))
    quotes = spark.createDataFrame(
        [(1, _ts(4), 100.0), (1, _ts(5), 101.0), (1, _ts(9), 102.0),
         (2, _ts(8), 50.0)],
        T.StructType([
            T.StructField("sym", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("px", T.DoubleType()),
        ]))
    return trades, quotes


def test_asof_backward(spark, quotes_trades):
    trades, quotes = quotes_trades
    out = {r.trade_id: r.px_asof
           for r in asof_join(trades, quotes, "sym", "ts", ("px",)).collect()}
    assert out["t1"] == 101.0   # same-ts quote qualifies (<=)
    assert out["t2"] == 102.0   # most recent before
    assert out["t3"] is None    # sym 2's only quote is after t3


def test_asof_forward(spark, quotes_trades):
    trades, quotes = quotes_trades
    out = {r.trade_id: r.px_asof
           for r in asof_join(trades, quotes, "sym", "ts", ("px",),
                              direction="forward").collect()}
    assert out["t1"] == 101.0   # same-ts qualifies (>=)
    assert out["t2"] is None    # nothing at/after minute 10
    assert out["t3"] == 50.0


def test_asof_bad_direction(spark, quotes_trades):
    trades, quotes = quotes_trades
    with pytest.raises(ValueError):
        asof_join(trades, quotes, "sym", "ts", ("px",), direction="sideways")


def test_decode_stub_deterministic_and_gated():
    f1 = default_decode_stub(b"hello world", "image")
    f2 = default_decode_stub(b"hello world", "image")
    assert f1 == f2 and len(f1) == 8
    assert abs(sum(f1) - 1.0) < 1e-6          # normalized histogram
    assert default_decode_stub(b"", "audio") == [0.0] * 8
    with pytest.raises(NotImplementedError):
        default_decode_stub(b"x", "hologram")


def test_extract_features_mapinpandas(spark):
    media = spark.createDataFrame(
        [(1, "image", b"abc"), (2, "video", b"defg")],
        T.StructType([
            T.StructField("media_id", T.LongType()),
            T.StructField("modality", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]))
    rows = {r.media_id: r for r in extract_features(media).collect()}
    assert set(rows) == {1, 2}
    expected = default_decode_stub(b"abc", "image")
    # feature column is array<float> (float32) — compare with tolerance
    assert all(abs(a - b) < 1e-6 for a, b in zip(rows[1].feature, expected))
    # payload column dropped from the output schema
    assert "payload" not in extract_features(media).columns


def test_media_phash_finds_planted_near_dups(spark):
    """Multimodal near-dup contract (r07 VERDICT item 4): a payload
    clone with a FEW modified byte blocks must pair with its original
    at small Hamming distance; an unrelated payload must not pair; an
    EXACT clone verifies at Hamming 0. Signature sanity: identical
    payloads hash identically, and modifying bytes in place flips few
    bits."""
    from hackmd_data_pipeline_spark.operators.multimodal import (
        media_phash_pairs, media_phash_signatures)

    import hashlib

    def stream(tag: str, n: int) -> bytes:
        # deterministic pseudo-random content: REPETITIVE payloads
        # (e.g. bytes(range(256))*16) concentrate every bit vote at
        # the exact majority boundary, where any edit flips many bits
        out, h = b"", tag.encode()
        while len(out) < n:
            h = hashlib.sha256(h).digest()
            out += h
        return out[:n]

    base = stream("base", 4096)                        # 512 blocks
    near = base[:-16] + stream("mod", 16)              # last 2 blocks differ
    other = stream("other", 4096)                      # unrelated content
    media = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base)],
        T.StructType([
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]))
    sigs = {r.media_id: r.simhash
            for r in media_phash_signatures(media).collect()}
    assert sigs[1] == sigs[4], "identical payloads must hash identically"
    assert sigs[1] != sigs[3]

    pairs = {(r.id_a, r.id_b): r.hamming
             for r in media_phash_pairs(media, max_hamming=3).collect()}
    assert pairs.get((1, 4)) == 0, "exact clone must verify at Hamming 0"
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3, (
        "near clone (2 modified blocks) must survive the Hamming cut")
    assert not any(3 in p for p in pairs), "unrelated payload paired"

    # empty payloads emit no signature row (no signal, mirrors oracle)
    empty = spark.createDataFrame(
        [(9, b"")],
        T.StructType([T.StructField("media_id", T.LongType()),
                      T.StructField("payload", T.BinaryType())]))
    assert media_phash_signatures(empty).count() == 0


def test_dedup_clusters_known_components(spark):
    from hackmd_data_pipeline_spark.operators.dedup import dedup_clusters
    # two components: {1,2,3,4} chained (diameter 3, needs >1 round)
    # and {10,11}; 20-20 self-free singleton absent from pairs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_converges_on_long_chain(spark):
    from hackmd_data_pipeline_spark.operators.dedup import dedup_clusters
    # path graph 0-1-2-...-9: worst case for min-label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(10)}


def test_normalize_quantize_roundtrip(spark):
    import math
    from hackmd_data_pipeline_spark.operators.similarity import (
        normalize_quantize)
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [-1.0, 0.0, 2.0])],
        ["vec_id", "embedding"])
    rows = {r.vec_id: r for r in normalize_quantize(df).collect()}
    # norm recorded exactly
    assert abs(rows[1].norm - 5.0) < 1e-6
    # dequantized unit vector reconstructs within int8 step size
    for vid, orig in ((1, [3.0, 4.0]), (2, [-1.0, 0.0, 2.0])):
        n = math.sqrt(sum(x * x for x in orig))
        unit = [x / n for x in orig]
        deq = [q * rows[vid].scale for q in rows[vid].qvec]
        assert all(abs(a - b) <= rows[vid].scale for a, b in zip(deq, unit))
        # max-magnitude component hits exactly +/-127
        assert max(abs(q) for q in rows[vid].qvec) == 127


def test_deterministic_split_properties(spark):
    from hackmd_data_pipeline_spark.operators.sampling import (
        deterministic_split)
    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    s1 = deterministic_split(df, "doc_id", fr)
    counts = {r.split: r.n for r in
              s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # exhaustive (fractions sum to 1 -> no NULL split) and disjoint by
    # construction; fractions hit within 2% absolute
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20000
    for k, f in fr.items():
        assert abs(counts[k] / 20000 - f) < 0.02, (k, counts[k])
    # stable under arbitrary repartition: same assignment per key
    s2 = deterministic_split(df.repartition(17), "doc_id", fr)
    assert (s1.withColumnRenamed("split", "a")
            .join(s2.withColumnRenamed("split", "b"), "doc_id")
            .filter(F.col("a") != F.col("b")).count()) == 0
    # different seed -> different (but still complete) assignment
    s3 = deterministic_split(df, "doc_id", fr, seed=1)
    moved = (s1.withColumnRenamed("split", "a")
             .join(s3.withColumnRenamed("split", "b"), "doc_id")
             .filter(F.col("a") != F.col("b")).count())
    assert moved > 0


def test_pack_sequences_budget_and_completeness(spark):
    from hackmd_data_pipeline_spark.operators.packing import (
        pack_sequences, packing_stats)
    rows = [(i, n) for i, n in enumerate(
        [100, 900, 200, 1500, 50, 50, 50, 1024, 1000, 30])]
    df = local_df(spark, rows, "doc_id long, n_tokens long").coalesce(1)
    packed = pack_sequences(df, max_tokens=1024).collect()
    # every doc packed exactly once
    assert sorted(r.doc_id for r in packed) == [r[0] for r in rows]
    # only oversize docs flagged
    assert {r.doc_id for r in packed if r.overflow} == {3}
    # budget respected for every non-overflow sequence
    stats = packing_stats(
        pack_sequences(df, max_tokens=1024), 1024).collect()
    for s in stats:
        if not s.has_overflow:
            assert s.seq_tokens <= 1024, s
    # oversize doc sits alone in its sequence
    by_seq = {}
    for r in packed:
        by_seq.setdefault(r.seq_id, []).append(r.doc_id)
    seq_of_3 = next(r.seq_id for r in packed if r.doc_id == 3)
    assert by_seq[seq_of_3] == [3]


def test_pack_audit_query_with_planted_overflow(spark, tmp_path):
    """The registered docs_pack_sequences audit (r05 oracle form) on a
    corpus that actually CONTAINS oversize docs — the driver corpora
    have none, so the overflow columns/booleans are exercised here:
    n_overflow_docs counts exactly the >1024-token docs and the
    isolation/budget/bound invariants stay TRUE."""
    from hackmd_data_pipeline_spark.plans.extensions import (
        docs_pack_sequences)
    rows = []
    for i in range(40):
        rows.append((i, "w " * 60 + "end", "en"))          # 61 tokens
    rows.append((100, "big " * 2000, "en"))                # 2000 tokens
    rows.append((101, "huge " * 1500, "en"))               # 1500 tokens
    rows.append((102, "   ", "en"))                        # blank: filtered
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.coalesce(2).write.parquet(str(tmp_path / "documents.parquet"))
    row = docs_pack_sequences(spark, str(tmp_path)).collect()[0].asDict()
    assert row["n_docs_packed"] == 42
    assert row["n_overflow_docs"] == 2
    assert row["total_tokens"] == 40 * 61 + 2000 + 1500
    assert row["budget_respected"] and row["overflow_isolated"]
    assert row["seqs_within_bound"]


def test_pack_sequences_parallel_partitions_unique_ids(spark):
    from hackmd_data_pipeline_spark.operators.packing import pack_sequences
    df = (spark.range(0, 5000).withColumnRenamed("id", "doc_id")
          .withColumn("n_tokens", (F.col("doc_id") % 300) + 1)
          .repartition(8))
    packed = pack_sequences(df, max_tokens=1024)
    assert packed.count() == 5000
    # seq ids never collide across partitions (high-bits partition prefix)
    per_seq = packed.groupBy("seq_id").agg(
        F.sum("n_tokens").alias("t"), F.max("overflow").alias("o"))
    assert per_seq.filter((F.col("t") > 1024) & (~F.col("o"))).count() == 0


def test_stratified_downsample_caps_and_determinism(spark):
    from hackmd_data_pipeline_spark.operators.sampling import (
        stratified_downsample)
    # skewed classes: 'big' is 80% of rows, cap at 30%
    df = spark.range(0, 10000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 8, "big").otherwise("small").alias("lang"))
    out = stratified_downsample(df, "lang", "doc_id", 0.30)
    counts = {r.lang: r.n for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # 'small' untouched (2000 rows), 'big' capped near 3000 (30% of 10k)
    assert counts["small"] == 2000
    assert abs(counts["big"] - 3000) < 150
    # deterministic: same survivors on re-run and under repartition
    again = stratified_downsample(df.repartition(13), "lang", "doc_id", 0.30)
    assert sorted(r.doc_id for r in out.collect()) == \
        sorted(r.doc_id for r in again.collect())


def test_operator_argument_validation(spark):
    import pytest as _pt

    from hackmd_data_pipeline_spark.operators.packing import pack_sequences
    from hackmd_data_pipeline_spark.operators.rangejoin import interval_join
    from hackmd_data_pipeline_spark.operators.rollup import time_rollup
    from hackmd_data_pipeline_spark.operators.sampling import (
        deterministic_split, stratified_downsample)

    df = spark.createDataFrame([(1, 1)], "doc_id long, n_tokens long")
    with _pt.raises(ValueError, match="max_tokens"):
        pack_sequences(df, max_tokens=0)
    with _pt.raises(ValueError, match="delta_seconds"):
        interval_join(df, df, on=["doc_id"], left_ts="a", right_ts="b",
                      delta_seconds=0)
    with _pt.raises(ValueError, match="grain"):
        time_rollup(df, grain="fortnight")
    with _pt.raises(ValueError, match="fractions"):
        deterministic_split(df, "doc_id", {"a": 0.9, "b": 0.3})
    with _pt.raises(ValueError, match="max_class_fraction"):
        stratified_downsample(df, "doc_id", "doc_id", 0.0)


def test_dedup_clusters_empty_pairs(spark):
    from hackmd_data_pipeline_spark.operators.dedup import dedup_clusters
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters(pairs).collect() == []
    assert dedup_clusters(pairs, small_graph_threshold=0).collect() == []


def test_semdedup_no_pairs_keeps_everything(spark):
    """Below-threshold corpus: no semantic pairs -> every vector is its
    own cluster and kept."""
    import numpy as np
    from hackmd_data_pipeline_spark.operators.similarity import semdedup

    rng = np.random.default_rng(9)
    rows = []
    for i in range(12):
        v = rng.normal(size=8)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(emb, n_clusters=3, threshold=0.9999).collect()
    assert len(out) == 12
    assert all(r.is_kept for r in out)
    assert all(r.cluster_id == r.vec_id for r in out)


def test_fs_helpers_roundtrip(spark, tmp_path):
    from hackmd_data_pipeline_spark.sources.fs import fs_delete, fs_exists

    p = str(tmp_path / "probe_dir")
    assert not fs_exists(spark, p)
    spark.range(3).write.parquet(p)
    assert fs_exists(spark, p)
    assert fs_exists(spark, p + "/_SUCCESS")
    assert fs_delete(spark, p)
    assert not fs_exists(spark, p)
    assert not fs_delete(spark, p)  # second delete: nothing to do


def test_attach_running_total_matches_reference_and_deterministic(spark):
    """The distributed prefix sum must equal the single-reducer
    reference cumsum on every row, carry exact grand totals/counts,
    and — the regression this operator exists to pin — produce the
    SAME result on repeated invocations (un-reused range exchanges
    used to sample independent boundaries, corrupting offsets
    run-to-run; the eager checkpoint freezes partition assignment)."""
    from hackmd_data_pipeline_spark.operators.prefix import attach_running_total

    rows = [(i, ((i * 2654435761) % 997), 1 + (i * 7919) % 50)
            for i in range(700)]
    df = (spark.createDataFrame(rows, ["id", "key", "val"])
          .repartition(11))

    ref_sorted = sorted(rows, key=lambda r: (-r[1], r[0]))
    ref_cum, acc = {}, 0
    for rid, _k, v in ref_sorted:
        acc += v
        ref_cum[rid] = acc
    total = sum(r[2] for r in rows)

    outs = []
    for _ in range(2):
        got = attach_running_total(
            df, "val", [F.desc("key"), F.col("id")],
            cum_col="cum", total_col="tot", count_col="cnt")
        outs.append({r.id: (r.cum, r.tot, r.cnt) for r in got.collect()})

    assert outs[0] == outs[1], "prefix sum is nondeterministic across runs"
    for rid, (cum, tot, cnt) in outs[0].items():
        assert cum == ref_cum[rid], (rid, cum, ref_cum[rid])
        assert tot == total and cnt == len(rows)


def test_frozen_frame_survives_cache_eviction(spark):
    """Eviction must NOT unpersist (round-5 review): frozen frames
    escape to callers as the base of returned lazy plans and
    localCheckpoint severed their lineage, so an unpersist-on-evict
    makes a caller's later action throw. Hold the FIRST frozen frame,
    force it out of the LRU with _FROZEN_CACHE_MAX+1 fresh freezes,
    then execute the held frame — it must still produce its rows."""
    from hackmd_data_pipeline_spark.operators import prefix as P

    P._FROZEN_CACHE.clear()
    held = P._frozen_range_partitioned(
        spark.range(50).withColumnRenamed("id", "v"), [F.col("v")])
    for i in range(P._FROZEN_CACHE_MAX + 1):
        df = spark.range(60 + i).withColumnRenamed("id", "v")
        P._frozen_range_partitioned(df, [F.col("v")]).count()
    assert len(P._FROZEN_CACHE) == P._FROZEN_CACHE_MAX
    # the held frame was evicted from the cache but must still run
    assert held.count() == 50
    P._FROZEN_CACHE.clear()


def test_attach_running_total_empty_and_single_row(spark):
    """Degenerate inputs: an EMPTY frame yields an empty result (the
    broadcast totals row vanishes with it, no null poisoning), and a
    single row carries cum == total == its own value."""
    from pyspark.sql import types as T

    from hackmd_data_pipeline_spark.operators.prefix import attach_running_total

    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("val", T.LongType())])
    empty = spark.createDataFrame([], schema)
    out = attach_running_total(empty, "val", [F.col("id")],
                               cum_col="cum", total_col="tot")
    assert out.count() == 0

    one = spark.createDataFrame([(7, 42)], schema)
    rows = attach_running_total(one, "val", [F.col("id")],
                                cum_col="cum", total_col="tot").collect()
    assert len(rows) == 1 and rows[0].cum == 42 and rows[0].tot == 42


def test_activity_streaks_islands_logic(spark):
    """Gaps-and-islands on a crafted calendar: user 1 has runs
    [d1-d3], [d5], [d7-d8] (3 streaks, longest 3, 6 active days);
    user 2 is a single day; duplicate same-day events must not
    inflate streaks."""
    import datetime as ddt

    from hackmd_data_pipeline_spark.plans import REGISTRY

    rows = []
    eid = 0
    def ev(u, day, n=1):
        nonlocal eid
        for _ in range(n):
            rows.append((eid, ddt.datetime(2024, 3, day, 12, 0, 0), u,
                         "view", 1.0, "{}"))
            eid += 1
    ev(1, 1); ev(1, 2, n=3); ev(1, 3); ev(1, 5); ev(1, 7); ev(1, 8)
    ev(2, 10, n=2)

    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")
        got = {r.user_id: (r.n_streaks, r.longest_streak, r.n_active_days)
               for r in REGISTRY["events_activity_streaks"]
               .builder(spark, d).collect()}
    assert got[1] == (3, 3, 6)
    assert got[2] == (1, 1, 1)


def test_gopher_rules_edge_shapes(spark):
    """Crafted docs: an all-digits doc fails frac_alpha; a
    two-letter-word doc fails mean_word_len >= 3; a long good doc with
    stopwords passes; symbol-heavy '#' doc fails symbol_ratio."""
    import tempfile

    import pyspark.sql.types as T

    from hackmd_data_pipeline_spark.plans import REGISTRY

    good = ("the quick brown fox jumps over the lazy dog and keeps " * 6).strip()
    docs = [
        (0, good, "en", "s", len(good)),                  # keep
        (1, " ".join(["123"] * 60), "en", "s", 239),      # all digits -> flag
        (2, " ".join(["ab"] * 60), "en", "s", 179),       # short words -> flag
        (3, ("# " * 30 + good)[:400], "en", "s", 400),    # symbols -> flag
        (4, "   ", "en", "s", 3),                         # blank: filtered out
    ]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(docs, schema).write.parquet(f"{d}/documents.parquet")
        got = {r.doc_id: r.gopher_bucket
               for r in REGISTRY["text_gopher_rules"].builder(spark, d).collect()}
    assert got == {0: "keep", 1: "flag", 2: "flag", 3: "flag"}


def test_equidepth_buckets_are_near_equal(spark):
    """On the real events table the 10 adaptive buckets must hold
    near-equal populations (the defining property equi-WIDTH lacks)
    and tile the value range without overlap."""
    from hackmd_data_pipeline_spark.plans import REGISTRY

    rows = (REGISTRY["events_equidepth_histogram"]
            .builder(spark, "/root/testdata/sf0.01").orderBy("bucket").collect())
    assert [r.bucket for r in rows] == list(range(1, 11))
    counts = [r.n_events for r in rows]
    assert max(counts) - min(counts) <= 0.02 * sum(counts) / 10 + 5
    for prev, cur in zip(rows, rows[1:]):
        assert prev.hi <= cur.lo


def test_keep_best_huge_doc_ids(spark):
    """dedup_keep_best must pick (longest, then smallest-id) with NO
    assumption about the id range — the r03 integer-packed score
    (n_chars*1e7 - doc_id) silently mis-ranked once doc_id crossed
    1e7 (VERDICT r03 "What's wrong" #2). Ids here are >= 1e9 and the
    packing would overflow the ordering: 5_000_000_000 vs
    5_000_000_001 with equal n_chars must keep the SMALLER id, and a
    longer copy with a huge id must beat a shorter copy with id 1."""
    import tempfile

    import pyspark.sql.types as T

    from hackmd_data_pipeline_spark.plans import REGISTRY

    docs = [
        # group A: equal lengths, tie -> smallest id (both >= 1e9)
        (5_000_000_001, "alpha alpha", "en", "s", 11),
        (5_000_000_000, "alpha alpha", "en", "s", 11),
        # group B: longer copy has the huge id -> it must win anyway
        (1, "beta beta", "en", "s", 9),
        (9_999_999_999, "beta beta", "en", "s", 500),
    ]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(docs, schema).write.parquet(f"{d}/documents.parquet")
        rows = REGISTRY["dedup_keep_best"].builder(spark, d).collect()
    by_copies = {r.n_copies: r for r in rows}
    assert len(rows) == 2 and set(by_copies) == {2}
    keepers = {r.keeper_doc_id for r in rows}
    assert keepers == {5_000_000_000, 9_999_999_999}


def test_editdistance_block_cap_kills_boilerplate_skew(spark):
    """The r04 bounded-block rework's defining contract (VERDICT r03
    "What's wrong" #1): a corpus where EVERY doc shares one
    boilerplate head used to collapse into a single quadratic block;
    now an oversized block (> max_block members) is excluded from
    pairing entirely, while small blocks still pair."""
    from pyspark.sql import functions as F  # noqa: F401

    from hackmd_data_pipeline_spark.operators.dedup import (
        editdistance_pair_edges,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, boiler + f"unique tail {i}") for i in range(200)]
    # one small block of true near-dups with a DIFFERENT head
    rows += [(1000, "zebra gnu okapi " * 4), (1001, "zebra gnu okapi " * 4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = editdistance_pair_edges(df, max_block=64).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1000, 1001) in ids, "small-block near-dups must still pair"
    assert all(a >= 1000 for a, _ in ids), (
        "boilerplate block (200 > max_block) must be excluded from "
        f"pairing, got: {sorted(ids)[:5]}")


def test_editdistance_small_blocks_pair_across_formatting(spark):
    """Normalized-prefix blocking: docs whose heads differ only by
    case/punctuation/spacing land in the SAME block (the raw-prefix
    scheme split them) and pair when the head edit distance allows."""
    from hackmd_data_pipeline_spark.operators.dedup import (
        editdistance_pair_edges,
    )

    rows = [
        (1, "Hello, World! This is a test document body right here."),
        (2, "hello world this is a test document body right here."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in
             editdistance_pair_edges(df, max_dist=10).collect()}
    assert (1, 2) in pairs


def test_derived_partsupp_is_well_defined(spark):
    """The derived partsupp relation (plans/partsupp.py): pair-distinct
    by construction, bounded 1..4 suppliers per part, suppkeys inside
    [1, |supplier|], and qty/cost are pure functions of the pair (so
    the DISTINCT that absorbs small-S formula collisions cannot pick
    'one of several' rows). At S=10 (sf0.001) the TPC-H stride formula
    genuinely collides — the relation must still be well-defined."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.plans.partsupp import derived_partsupp

    for sf, s_cnt, exact_4p in [("sf0.001", 10, False), ("sf0.01", 100, True)]:
        ps = derived_partsupp(spark, f"/root/testdata/{sf}")
        rows = ps.collect()
        pairs = [(r.ps_partkey, r.ps_suppkey) for r in rows]
        assert len(pairs) == len(set(pairs))
        assert all(1 <= r.ps_suppkey <= s_cnt for r in rows)
        assert all(1 <= r.ps_availqty <= 9999 for r in rows)
        assert all(100 <= r.ps_cost_cents < 100000 for r in rows)
        assert all(abs(r.ps_supplycost - r.ps_cost_cents / 100.0) == 0.0
                   for r in rows)
        per_part = (ps.groupBy("ps_partkey").count()
                    .agg(F.min("count"), F.max("count")).collect()[0])
        assert 1 <= per_part[0] and per_part[1] <= 4
        if exact_4p:
            n_part = spark.read.parquet(
                f"/root/testdata/{sf}/part.parquet").count()
            assert len(rows) == 4 * n_part
