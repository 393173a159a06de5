"""Bloom filter + count-min sketch (operators/membership.py).

Contract tests for the sketch kernels themselves — the registry
queries built on them (dedup_bloom_prefilter, agg_cms_heavy_hitters)
are value-hash-gated end-to-end by the driver/test_queries_oracle, so
here we pin the properties the gate can't state directly: the
no-false-negative guarantee over hostile keys, mergeability, the
SQL twin of the probe derivation, and the broadcast plan shape.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.membership import (
    bloom_build,
    bloom_might_contain,
    cms_build,
    cms_estimate,
    km_positions,
)
from hackmd_data_pipeline_spark.plans.oracle_helpers import _unsigned, km_pos_expr

# Hostile key set: negatives (two's-complement bit pattern), 0, the
# extremes, and a dense run (KM stride degeneracy would collapse it).
HOSTILE_KEYS = ([0, 1, -1, 2**63 - 1, -(2**63), 42, -42, 10**18]
                + list(range(-5, 6)) + [7 * i for i in range(50)])


def _keys_df(spark, keys):
    return spark.createDataFrame([(int(k),) for k in sorted(set(keys))],
                                 "k long")


def test_km_positions_sql_parity(spark):
    """km_pos_expr (DuckDB) reproduces km_positions (Spark) for every
    probe index over hostile 64-bit hash patterns."""
    m, k = 1 << 17, 7
    rows = (_keys_df(spark, HOSTILE_KEYS)
            .select("k", F.xxhash64("k").alias("h"),
                    km_positions(F.xxhash64("k"), m, k).alias("pos"))
            .collect())
    con = duckdb.connect()
    for r in rows:
        for i in range(k):
            got = con.sql(
                f"SELECT {km_pos_expr(_unsigned(str(r.h)), str(i), m)}"
            ).fetchone()[0]
            assert got == r.pos[i], (r.k, i)
    con.close()


def test_km_positions_distinct_per_key(spark):
    """h2 is forced odd, so the k probe positions of one key are
    pairwise distinct for power-of-two slot counts > k — the
    count(hit) == k membership fold relies on this."""
    m, k = 1 << 10, 7
    rows = (_keys_df(spark, HOSTILE_KEYS)
            .select(km_positions(F.xxhash64("k"), m, k).alias("pos"))
            .collect())
    for r in rows:
        assert len(set(r.pos)) == k


def test_bloom_no_false_negatives(spark):
    keys = _keys_df(spark, HOSTILE_KEYS)
    bits = bloom_build(keys, F.col("k"), 1 << 12, 5)
    out = bloom_might_contain(keys, bits, F.col("k"), 1 << 12, 5)
    assert out.filter(~F.col("bloom_pass")).count() == 0


def test_bloom_merge_is_bit_union(spark):
    """Per-shard filters merged by union == filter built over the
    union — the per-day -> all-time rollup invariant."""
    m, k = 1 << 12, 5
    a = _keys_df(spark, range(0, 100))
    b = _keys_df(spark, range(80, 200))
    merged = (bloom_build(a, F.col("k"), m, k)
              .unionByName(bloom_build(b, F.col("k"), m, k)).distinct())
    whole = bloom_build(a.unionByName(b).distinct(), F.col("k"), m, k)
    assert (sorted(r.pos for r in merged.collect())
            == sorted(r.pos for r in whole.collect()))


def test_bloom_false_positive_rate_sane(spark):
    """Disjoint probe keys pass at roughly the analytic fp rate — and
    never anywhere near saturation (that would mean the probe
    derivation is degenerate, not just unlucky)."""
    m, k = 1 << 12, 5
    n = 300
    bits = bloom_build(_keys_df(spark, range(n)), F.col("k"), m, k)
    probes = _keys_df(spark, range(10_000, 12_000))
    fp = (bloom_might_contain(probes, bits, F.col("k"), m, k)
          .filter("bloom_pass").count())
    # analytic rate (1 - e^{-kn/m})^k ~ 0.002 here; allow 10x slack
    assert fp / 2000 < 0.02


def test_bloom_membership_plan_broadcasts(spark):
    bits = bloom_build(_keys_df(spark, range(100)), F.col("k"), 1 << 12, 5)
    out = bloom_might_contain(_keys_df(spark, range(50)), bits,
                              F.col("k"), 1 << 12, 5)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_cms_never_underestimates(spark):
    """Every key (not just heavy hitters) reads >= its true count."""
    freq = _keys_df(spark, range(200)).select(
        "k", (F.pmod(F.col("k"), 17) + 1).alias("w"))
    ctr = cms_build(freq, F.col("k"), F.col("w"), 4, 64)  # tiny: collisions
    est = cms_estimate(freq, ctr, F.col("k"), 4, 64)
    assert est.filter(F.col("cms_est") < F.col("w")).count() == 0


def test_cms_exact_without_collisions(spark):
    """With width >> keys the sketch degenerates to exact counts."""
    freq = _keys_df(spark, range(50)).select(
        "k", (F.pmod(F.col("k"), 7) + 1).alias("w"))
    ctr = cms_build(freq, F.col("k"), F.col("w"), 4, 1 << 16)
    est = cms_estimate(freq, ctr, F.col("k"), 4, 1 << 16)
    assert est.filter(F.col("cms_est") != F.col("w")).count() == 0


def test_cms_merge_is_cellwise_sum(spark):
    """Sketches over two shards merged by (j,pos)-sum == sketch over
    the concatenation (weights add per key across shards)."""
    d, w = 4, 256
    a = _keys_df(spark, range(100)).select("k", F.lit(2).alias("w"))
    b = _keys_df(spark, range(50, 150)).select("k", F.lit(3).alias("w"))
    merged = (cms_build(a, F.col("k"), F.col("w"), d, w)
              .unionByName(cms_build(b, F.col("k"), F.col("w"), d, w))
              .groupBy("j", "pos").agg(F.sum("cnt").alias("cnt")))
    whole = cms_build(a.unionByName(b), F.col("k"), F.col("w"), d, w)
    key = lambda r: (r.j, r.pos, r.cnt)  # noqa: E731
    assert (sorted(map(key, merged.collect()))
            == sorted(map(key, whole.collect())))


@pytest.mark.parametrize("query_name,col", [
    ("dedup_bloom_prefilter", "no_false_negative"),
    ("agg_cms_heavy_hitters", "never_underestimates"),
    ("agg_cms_heavy_hitters", "within_bound"),
])
def test_query_invariant_booleans_hold(spark, query_name, col):
    """The emitted contract booleans are TRUE on the real corpus (the
    oracle restates no_false_negative as literal TRUE; the CMS bounds
    are restated derivations — this pins that they genuinely hold)."""
    from hackmd_data_pipeline_spark.plans import REGISTRY

    df = REGISTRY[query_name].builder(spark, "/root/testdata/sf0.001")
    assert df.filter(~F.col(col)).count() == 0


def test_feature_hashing_invariants(spark):
    """Hashing-trick contracts the value gate can't state: per-doc L1
    mass is bounded by the doc's token count (each token contributes
    exactly one +-1), buckets stay in [0, 64), and the featurization
    is a pure function of text (same text -> identical sparse rows)."""
    from hackmd_data_pipeline_spark.plans import REGISTRY
    from hackmd_data_pipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    fh = REGISTRY["text_feature_hashing"].builder(spark, sf)
    docs = load_table(spark, sf, "documents").filter(
        F.length(F.trim("text")) > 0)
    ntok = (docs.select(
        "doc_id",
        F.size(F.filter(
            F.split(F.lower(F.trim("text")), "[ \\t\\n\\x0B\\f\\r]+"),
            lambda t: F.length(t) > 0)).alias("n_tokens")))
    joined = (fh.groupBy("doc_id")
              .agg(F.sum(F.abs("weight")).alias("l1"),
                   F.min("bucket").alias("bmin"), F.max("bucket").alias("bmax"))
              .join(ntok, "doc_id"))
    assert joined.filter(F.col("l1") > F.col("n_tokens")).count() == 0
    assert joined.filter((F.col("bmin") < 0) | (F.col("bmax") > 63)).count() == 0

    a = sorted(map(tuple, fh.collect()))
    b = sorted(map(tuple, REGISTRY["text_feature_hashing"]
                   .builder(spark, sf).collect()))
    assert a == b
