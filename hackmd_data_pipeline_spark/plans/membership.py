"""Mergeable-sketch membership queries: Bloom prefilter + count-min.

Registry surface over operators/membership.py. Both sketches derive
every probe position from one JVM-side ``xxhash64`` (Kirsch-
Mitzenmacher double hashing), so unlike the classic "sketch bytes are
engine-specific" story these queries are FULL value-hash oracles: the
DuckDB side rebuilds the same bit table / counter table through the
pinned xxh64 restatement (oracle_helpers) and must reproduce Spark's
membership and estimate DECISIONS bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import WS_CLASS
from ..operators.membership import (
    bloom_build,
    bloom_might_contain,
    cms_build,
    cms_estimate,
)
from ..tables import load_table
from .oracle_helpers import _unsigned, hashlong_steps, km_pos_expr, xxh64_string_ctes
from .registry import query

# Filter geometry: 2^17 bits / 7 probes holds ~14k historical keys at
# sf0.1 with a ~1% false-positive rate — small enough to broadcast
# (the sparse bit table is <= 2^17 rows of one long), large enough
# that the fp path is actually exercised at sf0.1.
_BLOOM_M = 1 << 17
_BLOOM_K = 7
_CUTOFF = "DATE '1997-01-01'"

_bf_steps, _bf_h = hashlong_steps(
    "bf", _unsigned("o_custkey"), 42, "allk", keep="o_custkey")
_BF_STEPS_SQL = ",\n".join(_bf_steps)

_BLOOM_ORACLE = f"""
WITH histk AS MATERIALIZED (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < {_CUTOFF}
), batchk AS MATERIALIZED (
    SELECT o_custkey, COUNT(*) AS n_orders FROM orders
    WHERE o_orderdate >= {_CUTOFF} GROUP BY o_custkey
), allk AS (
    SELECT o_custkey FROM histk UNION SELECT o_custkey FROM batchk
), {_BF_STEPS_SQL},
hbits AS MATERIALIZED (
    SELECT DISTINCT {km_pos_expr("k." + _bf_h, "r.i", _BLOOM_M)} AS pos
    FROM bfc k JOIN histk USING (o_custkey),
         UNNEST(range(0, {_BLOOM_K})) AS r(i)
), bprobe AS (
    SELECT b.o_custkey, b.n_orders,
           {km_pos_expr("k." + _bf_h, "r.i", _BLOOM_M)} AS pos
    FROM batchk b JOIN bfc k USING (o_custkey),
         UNNEST(range(0, {_BLOOM_K})) AS r(i)
), bpass AS (
    SELECT p.o_custkey, p.n_orders,
           COUNT(h.pos) = {_BLOOM_K} AS bloom_pass
    FROM bprobe p LEFT JOIN hbits h USING (pos)
    GROUP BY p.o_custkey, p.n_orders
)
SELECT b.o_custkey, b.n_orders, b.bloom_pass,
       EXISTS (SELECT 1 FROM histk h WHERE h.o_custkey = b.o_custkey)
           AS is_returning,
       TRUE AS no_false_negative
FROM bpass b ORDER BY o_custkey
"""


@query("dedup_bloom_prefilter", oracle=_BLOOM_ORACLE)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental membership — the scale form of the
    reference's per-batch exact anti-join dedup (reference
    src/extract/arxiv_collector.py:123-134 ``WHERE NOT EXISTS``): which
    post-cutoff order customers are returning vs first-time?

    The historical key set is scanned ONCE into a mergeable sparse bit
    table (<= 2^17 rows, broadcastable); the batch is prefiltered by a
    broadcast hash join on bit positions; the exact semi-join against
    history runs ONLY on bloom survivors. At 100 TB this replaces a
    per-batch shuffle of the full history with a per-batch broadcast of
    kilobytes — history is re-touched only for the survivors' verify,
    and per-day filters UNION into all-time ones without a rescan.

    The gate proves the no-false-negative contract end-to-end: Spark's
    ``is_returning`` is computed operationally (bloom_pass AND verify
    hit — non-survivors never reach the verify join), while the oracle
    restates the TRUE exact EXISTS. A single false negative would
    hash-mismatch. ``bloom_pass`` itself is value-checked through the
    xxh64+KM restatement, false positives included.
    """
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.to_date(F.lit("1997-01-01"))
    hist = o.filter(F.col("o_orderdate") < cutoff).select("o_custkey").distinct()
    batch = (o.filter(F.col("o_orderdate") >= cutoff)
             .groupBy("o_custkey").agg(F.count("*").alias("n_orders")))

    bits = bloom_build(hist, F.col("o_custkey"), _BLOOM_M, _BLOOM_K)
    checked = bloom_might_contain(batch, bits, F.col("o_custkey"),
                                  _BLOOM_M, _BLOOM_K)

    surv = (checked.filter(F.col("bloom_pass"))
            .join(hist.withColumn("_h", F.lit(True)), "o_custkey", "left")
            .select("o_custkey", "n_orders", "bloom_pass",
                    F.coalesce("_h", F.lit(False)).alias("is_returning")))
    nonsurv = (checked.filter(~F.col("bloom_pass"))
               .select("o_custkey", "n_orders", "bloom_pass",
                       F.lit(False).alias("is_returning")))
    return (
        surv.unionByName(nonsurv)
        .select("o_custkey", "n_orders", "bloom_pass", "is_returning",
                (F.col("bloom_pass") | ~F.col("is_returning"))
                .alias("no_false_negative"))
        .orderBy("o_custkey")
    )


# Sketch geometry: 4 x 4096 counters (128 KiB dense). Honesty note:
# the synthetic corpus has only ~31 distinct tokens, so at this width
# the top-20 estimates are collision-free (exact) at every SF — the
# oracle still restates the full probe/counter derivation, and the
# COLLIDING regime is exercised by tests/test_membership.py (w=64
# over 200 keys) and the hypothesis spec (w=128), where estimates
# genuinely exceed true counts and the min-over-d recovery matters.
_CMS_D = 4
_CMS_W = 4096

_cms_frag, _cms_out = xxh64_string_ctes("tc", "s, exact_cnt", "s", prefix="cm")

_CMS_ORACLE = f"""
WITH toks AS (
    SELECT UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
    FROM documents WHERE LENGTH(TRIM(text)) > 0
), tc AS MATERIALIZED (
    SELECT term AS s, COUNT(*) AS exact_cnt FROM toks
    WHERE LENGTH(term) > 0 GROUP BY term
), {_cms_frag},
cells AS MATERIALIZED (
    SELECT CAST(r.j AS INTEGER) AS j, {km_pos_expr("h", "r.j", _CMS_W)} AS pos,
           CAST(SUM(exact_cnt) AS BIGINT) AS cnt
    FROM {_cms_out}, UNNEST(range(0, {_CMS_D})) AS r(j)
    GROUP BY 1, 2
), top20 AS (
    SELECT s, exact_cnt, h FROM {_cms_out}
    ORDER BY exact_cnt DESC, s LIMIT 20
), probes AS (
    SELECT t.s, t.exact_cnt, CAST(r.j AS INTEGER) AS j,
           {km_pos_expr("t.h", "r.j", _CMS_W)} AS pos
    FROM top20 t, UNNEST(range(0, {_CMS_D})) AS r(j)
), est AS (
    SELECT p.s, p.exact_cnt, MIN(c.cnt) AS cms_est
    FROM probes p JOIN cells c USING (j, pos)
    GROUP BY p.s, p.exact_cnt
), tot AS (SELECT SUM(exact_cnt) AS n FROM tc)
SELECT s AS term, exact_cnt, cms_est,
       cms_est >= exact_cnt AS never_underestimates,
       cms_est <= exact_cnt + 2.0 * tot.n / {_CMS_W} AS within_bound
FROM est, tot
ORDER BY exact_cnt DESC, term
"""


@query("agg_cms_heavy_hitters", oracle=_CMS_ORACLE)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: estimated frequencies of the
    top-20 exact tokens, with the sketch's two contracts emitted as
    booleans (never underestimates; overestimate <= 2N/w here).

    The counter table is sparse (d x w rows max) and built with ONE
    map-side-combinable aggregation over per-term counts — at 100 TB
    the shuffle moves at most partitions x (d x w) rows, and per-day
    sketches merge by (j, pos) sum without touching raw data (the
    same rollup posture as agg_hll_mergeable). Unlike the HLL/KLL/
    theta entries this oracle is NOT exact+tolerance: the estimate
    itself is restated bit-exactly (xxh64 + KM probes in SQL), so
    DuckDB must reproduce every collision."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    tc = (
        d.select(F.explode(
            F.split(F.lower(F.trim(F.col("text"))), WS_CLASS)
        ).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term").agg(F.count("*").alias("exact_cnt"))
    )
    counters = cms_build(tc, F.col("term"), F.col("exact_cnt"), _CMS_D, _CMS_W)
    top = tc.orderBy(F.desc("exact_cnt"), "term").limit(20)
    est = cms_estimate(top, counters, F.col("term"), _CMS_D, _CMS_W)
    total = tc.agg(F.sum("exact_cnt").alias("_n"))
    return (
        est.crossJoin(F.broadcast(total))
        .select("term", "exact_cnt", "cms_est",
                (F.col("cms_est") >= F.col("exact_cnt"))
                .alias("never_underestimates"),
                (F.col("cms_est") <= F.col("exact_cnt")
                 + F.lit(2.0) * F.col("_n") / F.lit(_CMS_W))
                .alias("within_bound"))
        .orderBy(F.desc("exact_cnt"), "term")
    )


# 64 buckets keeps the demo vectors inspectable; the operator is the
# hashing trick itself, whose whole point is that dim is a free
# parameter (no vocabulary pass, no model state, collisions absorbed
# by the signed sum).
_FH_DIM = 64

_FH_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
    FROM documents WHERE LENGTH(TRIM(text)) > 0
), occ AS MATERIALIZED (
    SELECT doc_id, term AS s FROM toks WHERE LENGTH(term) > 0
), tc AS MATERIALIZED (
    SELECT DISTINCT s FROM occ
), {{frag}},
hashed AS (
    SELECT s, CAST(h % 64 AS BIGINT) AS bucket,
           CASE WHEN (h >> 63) = 1 THEN -1 ELSE 1 END AS sign
    FROM {{out}}
)
SELECT o.doc_id, hd.bucket, CAST(SUM(hd.sign) AS BIGINT) AS weight
FROM occ o JOIN hashed hd ON hd.s = o.s
GROUP BY o.doc_id, hd.bucket
HAVING SUM(hd.sign) <> 0
ORDER BY doc_id, bucket
"""
_fh_frag, _fh_out = xxh64_string_ctes("tc", "s", "s", prefix="fh")
_FH_ORACLE = _FH_ORACLE.format(frag=_fh_frag, out=_fh_out)


@query("text_feature_hashing", oracle=_FH_ORACLE)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009,
    arXiv:0902.2206): each document becomes a signed fixed-dim sparse
    bag-of-words vector with NO vocabulary pass and NO model state —
    bucket = xxhash64(term) mod dim, sign = the hash's top bit, weight
    = signed occurrence sum. The vocabulary-free featurizer a 100 TB
    corpus can afford: one codegen'd projection over the token stream
    plus ONE map-side-combinable shuffle on (doc, bucket); output is
    <= dim rows per document regardless of vocabulary size, and the
    signed sum keeps collision noise zero-mean.

    Emitted as exploded sparse rows ``doc_id | bucket | weight``
    (weight <> 0). Fully value-oracled: DuckDB rebuilds the same
    buckets and signs through the pinned xxh64 restatement — bucket =
    low 6 hash bits (power-of-two mod == two's-complement-safe), sign
    = bit 63."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = (
        d.select("doc_id", F.explode(
            F.split(F.lower(F.trim(F.col("text"))), WS_CLASS)
        ).alias("term"))
        .filter(F.length("term") > 0)
    )
    h = F.xxhash64("term")
    return (
        toks.select(
            "doc_id",
            F.pmod(h, F.lit(_FH_DIM)).alias("bucket"),
            F.when(F.shiftrightunsigned(h, 63) == 1, F.lit(-1))
            .otherwise(F.lit(1)).alias("sign"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").alias("weight"))
        .filter(F.col("weight") != 0)
        .orderBy("doc_id", "bucket")
    )
