"""Correlated-subquery / decorrelation query shapes (extension surface).

The reference's only subquery-shaped logic is the EXISTS point-lookup
(O-20, reference tests/test.ipynb cell bc52a9c3) and the set-difference
anti-join (O-23c, reference src/extract/arxiv_collector.py:217-222).
This module generalizes that family to the full decorrelation
spectrum Catalyst handles — EXISTS, NOT EXISTS, NOT IN, and correlated
scalar aggregates — written as explicit DataFrame joins so the plan
shape is pinned (semi/anti/broadcast) rather than left to subquery
rewrite. Each has a DuckDB oracle written in genuine subquery form, so
the comparison also cross-checks that our join rewrite IS the
decorrelated semantics.

Scale posture: every correlated probe becomes a keyed semi/anti join
(shuffle on the key, never nested-loop); scalar subqueries become a
pre-aggregated build side that is threshold-selective and therefore
broadcast-able at any SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalars import WS_CLASS
from ..operators.prefix import attach_running_total
from ..tables import load_table
from .registry import query


@query(
    "subq_q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def subq_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped correlated EXISTS: count orders per priority that
    have at least one returned line. The EXISTS decorrelates to a LEFT
    SEMI join on the order key — existence never duplicates the probe
    side, so no post-join distinct is needed. Both filters reach their
    scans; the semi join shuffles only (orderkey) pairs that survive."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "subq_q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def subq_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped distribution query: per-customer order counts
    through a LEFT OUTER join with an extra join-time predicate (the
    filter belongs in the ON clause — in WHERE it would silently turn
    the outer join inner and drop zero-order customers), then the
    histogram of those counts. Two shuffles by construction (custkey,
    then c_count); COUNT(o_orderkey) — not COUNT(*) — so unmatched
    customers count 0."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, (c.c_custkey == o.o_custkey)
               & (o.o_orderpriority != "1-URGENT"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "subq_q16_notin_suppliers",
    oracle="""
    SELECT p_brand, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_size >= 25
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 100)
    GROUP BY p_brand
    ORDER BY supplier_cnt DESC, p_brand
    """,
)
def subq_q16_notin_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped NOT IN: distinct supplier count per brand,
    excluding a blacklist subquery. NOT IN over a non-null key column
    is exactly a LEFT ANTI join (the null-aware special case cannot
    arise: s_suppkey is the supplier PK); the blacklist is
    threshold-selective and broadcast. part is a dimension -> broadcast
    too, so the only shuffle is the distinct-count on (brand, suppkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    bad = (load_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 100).select("s_suppkey"))
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand")
    )


@query(
    "subq_q17_small_qty_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def subq_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped correlated scalar aggregate: revenue from
    lines whose quantity is under half the part's average. The
    correlated AVG decorrelates to a per-part pre-aggregation joined
    back on partkey. The avg must be computed over ALL lines of the
    part (correlation is on partkey alone), but only brand parts are
    ever probed — so the agg input is first SEMI-joined to the brand's
    partkeys, shrinking the pre-agg by the brand's selectivity while
    staying semantically identical. Both the partkey set and the tiny
    per-part-avg result are broadcast: the fact table never shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = (load_table(spark, sf_dir, "part")
                   .filter(F.col("p_brand") == "Brand#13")
                   .select("p_partkey"))
    part_avg = (
        li.join(F.broadcast(brand_parts),
                li.l_partkey == brand_parts.p_partkey, "left_semi")
        .groupBy("l_partkey")
        .agg((F.lit(0.5) * F.avg("l_quantity")).alias("_half_avg"))
        .withColumnRenamed("l_partkey", "_avg_partkey")
    )
    return (
        li.join(F.broadcast(brand_parts),
                li.l_partkey == brand_parts.p_partkey, "left_semi")
        .join(F.broadcast(part_avg), li.l_partkey == part_avg._avg_partkey)
        .filter(F.col("l_quantity") < F.col("_half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "subq_q22_idle_rich_customers",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def subq_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: above-average-balance customers with no
    urgent orders, grouped by segment. Two decorrelations in one
    query: the uncorrelated scalar AVG becomes a 1-row cross
    (broadcast) join — never a collect() to the driver — and the NOT
    EXISTS becomes a LEFT ANTI join against the pre-filtered orders
    keys. Filter, anti-probe, and one agg shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("_avg_bal")))
    urgent = (o.filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("numcust"),
             F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
        .orderBy("c_mktsegment")
    )


@query(
    "win_order_analytics",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER()   OVER w                            AS rn,
           ROUND(LAG(o_totalprice)  OVER w, 2)              AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w, 2)              AS next_price,
           NTILE(4)       OVER w                            AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6)                  AS pct_rank,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING), 2)              AS running_spend
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, rn
    """,
)
def win_order_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-analytics suite over per-customer order timelines:
    lag/lead, ntile, percent_rank, running sum — the O-33 window
    family widened to the full analytic set. ALL functions share one
    window spec (partition custkey, order by date + key tiebreak), so
    the plan is a single shuffle + single sort with every function
    evaluated in one Window operator pass — adding a function to the
    suite costs zero extra shuffles. The running sum pins ROWS
    UNBOUNDED PRECEDING explicitly (the default RANGE frame is
    tie-sensitive)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        o.select(
            "o_custkey", "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
            F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_spend"),
        )
        .orderBy("o_custkey", "rn")
    )


@query(
    "agg_exact_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(QUANTILE_CONT(o_totalprice, 0.25), 2) AS p25,
           ROUND(QUANTILE_CONT(o_totalprice, 0.50), 2) AS p50,
           ROUND(QUANTILE_CONT(o_totalprice, 0.75), 2) AS p75,
           ROUND(QUANTILE_CONT(o_totalprice, 0.95), 2) AS p95,
           ROUND(MAX(o_totalprice), 2)                 AS p100
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont`` — same formula, so the
    oracle is a true value check). Exact percentile materializes the
    group's values; that is the CORRECTNESS baseline. The 100 TB path
    is ``approx_percentile`` (KLL-ish mergeable sketch, map-side
    combinable) — benchmarked as agg_approx_distinct's family; here we
    pin exact semantics."""
    o = load_table(spark, sf_dir, "orders")

    def pct(p: float, alias: str):
        return F.round(F.percentile("o_totalprice", F.lit(p)), 2).alias(alias)

    return (
        o.groupBy("o_orderpriority")
        .agg(pct(0.25, "p25"), pct(0.50, "p50"), pct(0.75, "p75"),
             pct(0.95, "p95"),
             F.round(F.max("o_totalprice"), 2).alias("p100"))
        .orderBy("o_orderpriority")
    )


@query(
    "agg_approx_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(QUANTILE_CONT(o_totalprice, 0.25), 2) AS p25,
           ROUND(QUANTILE_CONT(o_totalprice, 0.50), 2) AS p50,
           ROUND(QUANTILE_CONT(o_totalprice, 0.75), 2) AS p75,
           ROUND(QUANTILE_CONT(o_totalprice, 0.95), 2) AS p95,
           TRUE AS p25_in_band, TRUE AS p50_in_band,
           TRUE AS p75_in_band, TRUE AS p95_in_band
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles per group — the 100 TB path for
    agg_exact_percentiles: ``approx_percentile`` builds a bounded-size
    mergeable sketch per partition (map-side combine, fixed memory per
    group regardless of group cardinality). accuracy=1000 bounds rank
    error at 1/1000 of the group.

    PROMOTED rows-only -> driver oracle in r05 (VERDICT r04 item 2):
    sketch values are engine-specific, so the row emits the EXACT
    percentiles plus rank-band booleans — each sketch estimate must lie
    between the exact values at p±2% rank (20x the guaranteed 1/1000
    rank error; rank bands, not value deltas, because on a heavy tail a
    tiny rank slip is a large value delta). DuckDB restates the exact
    columns and literal TRUE."""
    o = load_table(spark, sf_dir, "orders")
    ps = (0.25, 0.50, 0.75, 0.95)
    est = F.approx_percentile(
        "o_totalprice", F.array(*(F.lit(p) for p in ps)), F.lit(1000))
    lo = F.percentile("o_totalprice", F.array(*(F.lit(p - 0.02) for p in ps)))
    hi = F.percentile("o_totalprice", F.array(*(F.lit(min(p + 0.02, 1.0)) for p in ps)))
    exact = F.percentile("o_totalprice", F.array(*(F.lit(p) for p in ps)))
    agg = o.groupBy("o_orderpriority").agg(
        est.alias("est"), lo.alias("lo"), hi.alias("hi"), exact.alias("ex"))

    def band(i: int, name: str):
        return ((F.col("est")[i] >= F.col("lo")[i] - 1e-6)
                & (F.col("est")[i] <= F.col("hi")[i] + 1e-6)).alias(name)

    return (
        agg.select(
            "o_orderpriority",
            F.round(F.col("ex")[0], 2).alias("p25"),
            F.round(F.col("ex")[1], 2).alias("p50"),
            F.round(F.col("ex")[2], 2).alias("p75"),
            F.round(F.col("ex")[3], 2).alias("p95"),
            band(0, "p25_in_band"), band(1, "p50_in_band"),
            band(2, "p75_in_band"), band(3, "p95_in_band"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_hll_mergeable",
    oracle="""
    SELECT * FROM (
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS exact_uniques,
               COUNT(*)                  AS n_rows,
               TRUE                      AS est_within_tol
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT 'ALL', COUNT(DISTINCT o_custkey),
               CAST(NULL AS BIGINT), TRUE
        FROM orders
    ) ORDER BY o_orderpriority
    """,
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg): per-priority customer-uniques
    sketches UNIONED into a global estimate without touching raw data
    again — the rollup pattern that lets a 100 TB store answer
    daily->monthly->all-time uniques by merging kilobyte sketches
    instead of rescanning.

    PROMOTED rows-only -> driver oracle in r05 (VERDICT r04 item 2):
    sketch bytes are engine-specific, so each row emits the EXACT
    uniques plus a boolean asserting the deterministic HLL(lgK=12)
    estimate — INCLUDING the merged global one, so the union-merge path
    is inside the gate — landed within 3%+3 of exact. DuckDB restates
    the exact columns and literal TRUE."""
    o = load_table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sketch"),
        F.countDistinct("o_custkey").alias("exact_uniques"),
        F.count("*").alias("n_rows"))
    ok = (F.abs(F.hll_sketch_estimate("sketch") - F.col("exact_uniques"))
          <= 0.03 * F.col("exact_uniques") + F.lit(3))
    per_group_row = per_group.select(
        "o_orderpriority", "exact_uniques", "n_rows",
        ok.alias("est_within_tol"))
    exact_all = o.agg(F.countDistinct("o_custkey").alias("exact_uniques"))
    global_row = (per_group
                  .agg(F.hll_union_agg("sketch").alias("merged"))
                  .crossJoin(F.broadcast(exact_all))
                  .select(F.lit("ALL").alias("o_orderpriority"),
                          "exact_uniques",
                          F.lit(None).cast("long").alias("n_rows"),
                          (F.abs(F.hll_sketch_estimate("merged")
                                 - F.col("exact_uniques"))
                           <= 0.03 * F.col("exact_uniques") + F.lit(3))
                          .alias("est_within_tol")))
    return per_group_row.unionByName(global_row).orderBy("o_orderpriority")


@query(
    "agg_pivot_priority_by_segment",
    oracle="""
    SELECT c_mktsegment,
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END), 0) AS BIGINT) AS urgent,
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '2-HIGH'   THEN 1 END), 0) AS BIGINT) AS high,
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END), 0) AS BIGINT) AS medium,
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END), 0) AS BIGINT) AS notspec,
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '5-LOW'    THEN 1 END), 0) AS BIGINT) AS low
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def agg_pivot_priority_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide): order counts per (segment x priority) as a
    wide matrix. The values list is pinned explicitly — with it, pivot
    is ONE pass (conditional aggregation, exactly the oracle's CASE
    form); without it Spark needs an extra distinct-scan job to
    discover the columns. Long->wide never shuffles more than the
    underlying groupBy."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pivoted = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority",
               ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        .count()
    )
    renames = {"1-URGENT": "urgent", "2-HIGH": "high", "3-MEDIUM": "medium",
               "4-NOT SPECIFIED": "notspec", "5-LOW": "low"}
    out = pivoted
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.select(
        "c_mktsegment",
        *[F.coalesce(F.col(n), F.lit(0)).alias(n) for n in renames.values()],
    ).orderBy("c_mktsegment")


@query(
    "agg_unpivot_priority_matrix",
    oracle="""
    WITH wide AS (
        SELECT c_mktsegment,
               CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END), 0) AS BIGINT) AS urgent,
               CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '5-LOW'    THEN 1 END), 0) AS BIGINT) AS low
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, 'urgent' AS priority, urgent AS n FROM wide
    UNION ALL
    SELECT c_mktsegment, 'low'    AS priority, low    AS n FROM wide
    ORDER BY c_mktsegment, priority
    """,
)
def agg_unpivot_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long) via stack(): the inverse reshape, a pure
    projection (each input row fans out to k output rows in place —
    no shuffle beyond the upstream pivot's)."""
    wide = agg_pivot_priority_by_segment(spark, sf_dir)
    return (
        wide.select(
            "c_mktsegment",
            F.expr("stack(2, 'urgent', urgent, 'low', low) AS (priority, n)"),
        )
        .select("c_mktsegment", "priority", F.col("n").cast("long").alias("n"))
        .orderBy("c_mktsegment", "priority")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT c_mktsegment, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
    ORDER BY c_mktsegment NULLS LAST, o_orderpriority NULLS LAST
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (completes the cube/rollup family):
    per-segment totals, per-priority totals, and the grand total in
    ONE pass — Spark expands the sets into a single Expand + aggregate
    (one shuffle), not three scans."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey)
    j.createOrReplaceTempView("_gs_input")
    return spark.sql("""
        SELECT c_mktsegment, o_orderpriority,
               COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        FROM _gs_input
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
        ORDER BY c_mktsegment NULLS LAST, o_orderpriority NULLS LAST
    """)


@query(
    "events_user_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS cohort_date
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_date,
               DATE_DIFF('day', f.cohort_date,
                         CAST(CAST(e.ts AS TIMESTAMP) AS DATE)) AS day_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_date, day_offset, COUNT(*) AS n_active_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_date, day_offset
    ORDER BY cohort_date, day_offset
    """,
)
def events_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen date; how many
    are active N days later (first week). The classic product-analytics
    query: first-touch agg (one shuffle on user), broadcast the
    per-user cohort back onto the event stream, distinct + count per
    (cohort, offset). NTZ date arithmetic throughout."""
    ev = load_table(spark, sf_dir, "events")
    firsts = (ev.groupBy("user_id")
              .agg(F.to_date(F.min("ts")).alias("cohort_date")))
    activity = (
        ev.join(F.broadcast(firsts), "user_id")
        .select("user_id", "cohort_date",
                F.datediff(F.to_date("ts"), F.col("cohort_date")).alias("day_offset"))
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    return (
        activity.groupBy("cohort_date", "day_offset")
        .agg(F.count("*").alias("n_active_users"))
        .orderBy("cohort_date", "day_offset")
    )


@query(
    "agg_mode_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderpriority AS mode_priority, n
    FROM (
        SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY COUNT(*) DESC, o_orderpriority) AS rk
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment, o_orderpriority
    ) ranked
    WHERE rk = 1
    ORDER BY c_mktsegment
    """,
)
def agg_mode_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode per group: most frequent priority per
    segment, ties broken by value (F.mode's tie choice is
    unspecified, so the engine pins count-then-value ordering — the
    count agg shuffles once, the top-1 window rides the same
    clustering)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    counts = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("n"), "o_orderpriority")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("c_mktsegment",
                F.col("o_orderpriority").alias("mode_priority"), "n")
        .orderBy("c_mktsegment")
    )


@query(
    "events_funnel",
    oracle="""
    WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'     THEN CAST(ts AS TIMESTAMP) END) AS t_view,
               MIN(CASE WHEN event_type = 'click'    THEN CAST(ts AS TIMESTAMP) END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*)                                                    AS n_users,
           CAST(COALESCE(SUM(CASE WHEN t_view IS NOT NULL THEN 1 END), 0) AS BIGINT)   AS viewed,
           CAST(COALESCE(SUM(CASE WHEN t_click > t_view THEN 1 END), 0) AS BIGINT)     AS clicked_after_view,
           CAST(COALESCE(SUM(CASE WHEN t_purchase > t_click
                              AND t_click > t_view THEN 1 END), 0) AS BIGINT)     AS full_funnel
    FROM f
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: users progressing view -> click ->
    purchase in strict first-occurrence order. ONE conditional-min agg
    per user (single shuffle), then a global conditional count — no
    joins, no window; NULL comparisons drop non-progressors exactly as
    the SQL three-valued logic does."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(kind: str, alias: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts"))).alias(alias)

    f = ev.groupBy("user_id").agg(
        first_ts("view", "t_view"), first_ts("click", "t_click"),
        first_ts("purchase", "t_purchase"))
    one = F.lit(1)
    return f.agg(
        F.count("*").alias("n_users"),
        F.coalesce(F.sum(F.when(F.col("t_view").isNotNull(), one)), F.lit(0)).alias("viewed"),
        F.coalesce(F.sum(F.when(F.col("t_click") > F.col("t_view"), one)), F.lit(0)).alias("clicked_after_view"),
        F.coalesce(F.sum(F.when((F.col("t_purchase") > F.col("t_click"))
                                & (F.col("t_click") > F.col("t_view")), one)), F.lit(0)).alias("full_funnel"),
    )


@query(
    "events_type_cooccurrence",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    ), totals AS (
        SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY event_type
    ), n AS (
        SELECT COUNT(DISTINCT user_id) AS n_all FROM ut
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_both,
           ROUND((CAST(COUNT(*) AS DOUBLE) / n.n_all)
                 / ((CAST(ta.n_users AS DOUBLE) / n.n_all)
                    * (CAST(tb.n_users AS DOUBLE) / n.n_all)), 4) AS lift
    FROM ut a
    JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN totals ta ON ta.event_type = a.event_type
    JOIN totals tb ON tb.event_type = b.event_type
    CROSS JOIN n
    GROUP BY type_a, type_b, ta.n_users, tb.n_users, n.n_all
    ORDER BY type_a, type_b
    """,
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift: which event types the
    same users perform together, against independence. ONE shuffle on
    user_id builds each user's sorted type-set; pairs come from a
    higher-order-function expansion of that (vocabulary-bounded)
    array, never a self-join — and totals/user-count derive from the
    same per-user frame, whose shuffle all consumers share via
    ReusedExchange (the distinct-self-join form planned 9
    shuffles)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
    )  # consumers share the user shuffle via ReusedExchange
    totals = (per_user.select(F.explode("types").alias("event_type"))
              .groupBy("event_type").agg(F.count("*").alias("n_users")))
    n_all = per_user.agg(F.count("*").alias("n_all"))
    # all (i < j) pairs of the sorted per-user type array, as structs
    pair_arr = F.flatten(F.transform(
        F.col("types"),
        lambda x, i: F.transform(
            F.slice(F.col("types"), i + F.lit(2),
                    F.greatest(F.size(F.col("types")) - i - 1, F.lit(0))),
            lambda y: F.struct(x.alias("ta"), y.alias("tb")))))
    pairs = (
        per_user.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.ta").alias("type_a"), F.col("p.tb").alias("type_b"))
        .agg(F.count("*").alias("n_both"))
    )
    ta = totals.select(F.col("event_type").alias("type_a"),
                       F.col("n_users").alias("_na"))
    tb = totals.select(F.col("event_type").alias("type_b"),
                       F.col("n_users").alias("_nb"))
    lift = ((F.col("n_both").cast("double") / F.col("n_all"))
            / ((F.col("_na").cast("double") / F.col("n_all"))
               * (F.col("_nb").cast("double") / F.col("n_all"))))
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n_all))
        .select("type_a", "type_b", "n_both", F.round(lift, 4).alias("lift"))
        .orderBy("type_a", "type_b")
    )


@query(
    "events_range_frame_7d",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           ROUND(SUM(value) OVER (
               PARTITION BY user_id
               ORDER BY EXTRACT(EPOCH FROM CAST(ts AS TIMESTAMP))
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2)
             AS sum_7d
    FROM events
    WHERE user_id < 20
    ORDER BY user_id, ts, event_id
    """,
)
def events_range_frame_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user trailing-7-day value sum —
    a RANGE (value-based) frame over epoch seconds, not a ROWS frame,
    so gaps and bursts weigh correctly. Identical epoch arithmetic on
    both engines; one shuffle + one sort per partition key."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    secs = F.timestamp_diff("SECOND", epoch, F.col("ts"))
    w = (W.partitionBy("user_id").orderBy(secs.cast("long"))
         .rangeBetween(-604800, 0))
    return (
        ev.select(
            "event_id", "user_id", "ts",
            F.round(F.sum("value").over(w), 2).alias("sum_7d"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@query(
    "agg_stats_suite",
    oracle="""
    SELECT o_orderpriority,
           ROUND(STDDEV_SAMP(o_totalprice), 2)              AS sd_price,
           ROUND(VAR_SAMP(o_totalprice), 1)                 AS var_price,
           ROUND(CORR(o_totalprice, o_custkey), 4)          AS corr_price_cust,
           ROUND(COVAR_SAMP(o_totalprice, o_custkey), 1)    AS covar_price_cust,
           ROUND(SKEWNESS(o_totalprice) * (COUNT(o_totalprice) - 2)
                 / SQRT(COUNT(o_totalprice) * (COUNT(o_totalprice) - 1.0)), 4)
                                                            AS skew_price,
           ROUND(KURTOSIS_POP(o_totalprice), 4)             AS kurt_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-moment aggregates per group: stddev/variance/
    correlation/covariance/skewness/kurtosis — all built-in mergeable
    (central-moment) aggregates, map-side combinable like sum/count.
    Both engines use numerically-stable one-pass moment updates;
    results rounded to the digits where they provably agree.
    (Spark's kurtosis and skewness are the POPULATION estimators;
    DuckDB's defaults are bias-corrected sample estimators, so the
    oracle uses kurtosis_pop and de-biases skewness explicitly with
    g1 = G1 * (n-2) / sqrt(n*(n-1)) — the sample-vs-population gap
    only peeked above the 4-decimal rounding at sf0.001 group sizes,
    caught by the round-3 all-SF sweep.)"""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.stddev_samp("o_totalprice"), 2).alias("sd_price"),
            F.round(F.var_samp("o_totalprice"), 1).alias("var_price"),
            F.round(F.corr("o_totalprice", "o_custkey"), 4).alias("corr_price_cust"),
            F.round(F.covar_samp("o_totalprice", "o_custkey"), 1).alias("covar_price_cust"),
            F.round(F.skewness("o_totalprice"), 4).alias("skew_price"),
            F.round(F.kurtosis("o_totalprice"), 4).alias("kurt_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               (MAX(o_orderdate) - DATE '1970-01-01') AS recency_day,
               COUNT(*)                               AS frequency,
               ROUND(SUM(o_totalprice), 2)            AS monetary
        FROM orders GROUP BY o_custkey
    ), cuts AS (
        SELECT quantile_disc(recency_day, 0.25) AS r1, quantile_disc(recency_day, 0.5) AS r2,
               quantile_disc(recency_day, 0.75) AS r3,
               quantile_disc(frequency, 0.25)   AS f1, quantile_disc(frequency, 0.5)   AS f2,
               quantile_disc(frequency, 0.75)   AS f3,
               quantile_disc(monetary, 0.25)    AS m1, quantile_disc(monetary, 0.5)    AS m2,
               quantile_disc(monetary, 0.75)    AS m3
        FROM rfm
    ), scored AS (
        SELECT 1 + CAST(recency_day > r1 AS INT) + CAST(recency_day > r2 AS INT)
                 + CAST(recency_day > r3 AS INT) AS r_score,
               1 + CAST(frequency > f1 AS INT) + CAST(frequency > f2 AS INT)
                 + CAST(frequency > f3 AS INT) AS f_score,
               1 + CAST(monetary > m1 AS INT) + CAST(monetary > m2 AS INT)
                 + CAST(monetary > m3 AS INT) AS m_score
        FROM rfm CROSS JOIN cuts
    )
    SELECT r_score, f_score, m_score, COUNT(*) AS n_customers
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary
    quartile buckets via PERCENTILE CUT POINTS, not global NTILE.

    Scale shape: one agg shuffle builds the per-customer table; one
    agg computes all nine quartile cut points as a single
    ``percentile_approx`` sketch pass (Greenwald-Khanna, bounded
    memory — exact below the accuracy bound, which covers the gate
    SFs); the 1-row cut table broadcasts back and scoring is a pure
    projection. The former plan funneled every customer through THREE
    single-partition NTILE windows — one task at a billion customers;
    this plan has no global window at all.

    Bucket semantics: score = 1 + #(cut points strictly below value),
    so ties share a bucket (value-quartiles, not equal-size buckets).
    The oracle mirrors this exactly: Spark's exact-mode
    percentile_approx and DuckDB's quantile_disc both pick the
    ceil(p*n)-rank element (probed empirically). ``monetary`` is
    rounded to cents BEFORE cut-point selection on both sides so the
    double sum's fold order cannot perturb boundary comparisons."""
    o = load_table(spark, sf_dir, "orders")
    acc = 100_000  # exact for n <= acc; bounded GK sketch beyond
    rfm = (o.groupBy("o_custkey")
           .agg(F.datediff(F.max("o_orderdate"),
                           F.lit("1970-01-01").cast("date")).alias("recency_day"),
                F.count("*").alias("frequency"),
                F.round(F.sum("o_totalprice"), 2).alias("monetary")))
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    cuts = rfm.agg(
        F.percentile_approx("recency_day", qs, F.lit(acc)).alias("r_cut"),
        F.percentile_approx("frequency", qs, F.lit(acc)).alias("f_cut"),
        F.percentile_approx("monetary", qs, F.lit(acc)).alias("m_cut"))

    def score(col: str, cut: str):
        v = F.col(col)
        return (F.lit(1)
                + (v > F.col(cut)[0]).cast("int")
                + (v > F.col(cut)[1]).cast("int")
                + (v > F.col(cut)[2]).cast("int"))

    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        score("recency_day", "r_cut").alias("r_score"),
        score("frequency", "f_cut").alias("f_score"),
        score("monetary", "m_cut").alias("m_score"))
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "orders_yoy_growth",
    oracle="""
    WITH yearly AS (
        SELECT o_orderpriority,
               EXTRACT(YEAR FROM o_orderdate)::BIGINT AS o_year,
               SUM(o_totalprice) AS revenue
        FROM orders GROUP BY o_orderpriority, o_year
    )
    SELECT o_orderpriority, o_year,
           ROUND(revenue, 2) AS revenue,
           ROUND(100.0 * (revenue - LAG(revenue) OVER w)
                 / LAG(revenue) OVER w, 2) AS yoy_pct
    FROM yearly
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_year)
    ORDER BY o_orderpriority, o_year
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per priority: yearly agg (one shuffle),
    then lag over the aggregated rows — the windowing rides the agg's
    clustering, first year's growth is NULL by construction."""
    o = load_table(spark, sf_dir, "orders")
    yearly = (o.groupBy("o_orderpriority",
                        F.year("o_orderdate").cast("long").alias("o_year"))
              .agg(F.sum("o_totalprice").alias("revenue")))
    w = W.partitionBy("o_orderpriority").orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return (
        yearly.select(
            "o_orderpriority", "o_year",
            F.round("revenue", 2).alias("revenue"),
            F.round(100.0 * (F.col("revenue") - prev) / prev, 2).alias("yoy_pct"),
        )
        .orderBy("o_orderpriority", "o_year")
    )


@query(
    "events_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(FLOOR(value / 25.0) AS BIGINT) * 25 AS bin_lo,
           COUNT(*) AS n
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type, bin_lo
    ORDER BY event_type, bin_lo
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per event type: floor-binning is a pure
    projection, so the histogram costs exactly one map-side-combined
    agg — the distributed-histogram primitive (for data-dependent
    bins, compose with approx_percentile cut points)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bin_lo = (F.floor(F.col("value") / 25.0).cast("long") * 25)
    return (
        ev.groupBy("event_type", bin_lo.alias("bin_lo"))
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "bin_lo")
    )


@query(
    "dq_profile_orders",
    oracle="""
    SELECT 'o_custkey' AS col, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey)     AS n_null,
           COUNT(DISTINCT o_custkey)       AS n_distinct,
           ROUND(MIN(o_custkey), 2)        AS min_val,
           ROUND(MAX(o_custkey), 2)        AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           ROUND(MIN(o_totalprice), 2), ROUND(MAX(o_totalprice), 2)
    FROM orders
    ORDER BY col
    """,
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profiling: null count, distinct count,
    min/max per column — the pre-ingest audit every pipeline runs.
    All columns profile in ONE scan (a single agg computes every
    column's stats; the per-column rows are unpivoted from that one
    result row), vs the oracle's one-scan-per-column UNION form."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count("*").alias("_n"),
        *[f for c in ("o_custkey", "o_totalprice") for f in (
            F.count(c).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
            F.round(F.min(c), 2).alias(f"_mn_{c}"),
            F.round(F.max(c), 2).alias(f"_mx_{c}"),
        )]
    )
    rows = []
    for c in ("o_custkey", "o_totalprice"):
        rows.append(agg.select(
            F.lit(c).alias("col"), F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col(f"_nn_{c}")).alias("n_null"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_mn_{c}").cast("double").alias("min_val"),
            F.col(f"_mx_{c}").cast("double").alias("max_val")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("col")


@query(
    "dq_violations_orders",
    oracle="""
    SELECT 'orphan_custkey' AS violation, COUNT(*) AS n
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'dup_orderkey', COUNT(*) FROM (
        SELECT o_orderkey FROM orders
        GROUP BY o_orderkey HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'nonpositive_price', COUNT(*) FROM orders
    WHERE o_totalprice <= 0
    ORDER BY violation
    """,
)
def dq_violations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-violation audit: FK orphans (anti join), duplicate
    primary keys (agg + HAVING), domain-range breaches — the checks
    the reference delegates to Postgres constraints
    (create_table.sql FK/PK clauses), re-expressed as declarative
    audits that SCALE (each check is one keyed shuffle or pure scan,
    results are counts not row dumps)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    orphans = (o.join(c, o.o_custkey == c.c_custkey, "left_anti")
               .agg(F.count("*").alias("n"))
               .select(F.lit("orphan_custkey").alias("violation"), "n"))
    dups = (o.groupBy("o_orderkey").agg(F.count("*").alias("_c"))
            .filter(F.col("_c") > 1)
            .agg(F.count("*").alias("n"))
            .select(F.lit("dup_orderkey").alias("violation"), "n"))
    negs = (o.filter(F.col("o_totalprice") <= 0)
            .agg(F.count("*").alias("n"))
            .select(F.lit("nonpositive_price").alias("violation"), "n"))
    return orphans.unionByName(dups).unionByName(negs).orderBy("violation")


@query(
    "orders_priority_transitions",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderpriority AS cur,
               LAG(o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders
    )
    SELECT prev, cur, COUNT(*) AS n
    FROM seq WHERE prev IS NOT NULL
    GROUP BY prev, cur
    ORDER BY prev, cur
    """,
)
def orders_priority_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix of order priorities per customer
    (lag over the per-customer timeline, then count pairs) — the
    Markov-chain counting primitive; one shuffle for the window, one
    for the pair agg."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.col("o_orderpriority").alias("cur"),
        F.lag("o_orderpriority").over(w).alias("prev"))
    return (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur").agg(F.count("*").alias("n"))
        .orderBy("prev", "cur")
    )


@query(
    "events_dau_wau",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        FROM events
    ), days AS (
        SELECT DISTINCT d FROM activity
    ), wau AS (
        SELECT days.d, COUNT(DISTINCT a.user_id) AS wau
        FROM days JOIN activity a
          ON a.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY days.d
    ), dau AS (
        SELECT d, COUNT(*) AS dau FROM activity GROUP BY d
    )
    SELECT dau.d AS day, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY day
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU engagement ("stickiness"): daily actives over trailing-
    7-day actives. The WAU side avoids a range join entirely: each
    active (user, day) EXPLODES into the 7 window-days it contributes
    to, then one distinct-count per window-day — shuffle by day,
    linear in activity, the same explode-to-buckets posture as the
    sliding-window query. The oracle states the naive range-join
    definition."""
    ev = load_table(spark, sf_dir, "events")
    # one distinct shuffle; downstream frames share it via
    # ReusedExchange (measured faster than checkpointing)
    activity = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = activity.select("d").distinct()
    dau = activity.groupBy("d").agg(F.count("*").alias("dau"))
    contrib = (
        activity.select(
            "user_id",
            F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
            .alias("window_day"))
    )
    wau = (contrib.join(F.broadcast(days), contrib.window_day == days.d)
           .groupBy("window_day")
           .agg(F.countDistinct("user_id").alias("wau")))
    return (
        dau.join(wau, dau.d == wau.window_day)
        .select(dau.d.alias("day"), "dau", "wau",
                F.round(F.col("dau").cast("double") / F.col("wau"), 4)
                .alias("stickiness"))
        .orderBy("day")
    )


@query(
    "docs_zipf_rank_frequency",
    oracle="""
    WITH freq AS (
        SELECT term, COUNT(*) AS f
        FROM (SELECT UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
              FROM documents WHERE LENGTH(TRIM(text)) > 0)
        WHERE LENGTH(term) > 0
        GROUP BY term
    )
    SELECT ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rank, term, f,
           ROUND(f * ROW_NUMBER() OVER (ORDER BY f DESC, term), 1) AS rank_x_freq
    FROM freq
    ORDER BY rank
    LIMIT 30
    """,
)
def docs_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency table: vocabulary ranked by frequency with
    the rank x freq product (roughly constant under Zipf's law — the
    corpus-sanity diagnostic run before tokenizer training).

    Scale shape: the top-30 slice is taken FIRST via orderBy+limit —
    Spark plans that as ``TakeOrderedAndProject`` (per-partition heap
    top-k, merged on the driver), so no task ever sees more than 30
    rows of the vocabulary. The rank window then runs over the 30-row
    slice only; the former vocabulary-wide single-partition window
    (every term funneled through one task) is gone."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    freq = (
        d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), WS_CLASS)).alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term").agg(F.count("*").alias("f"))
    )
    top = freq.orderBy(F.desc("f"), "term").limit(30)  # TakeOrderedAndProject
    w = W.orderBy(F.desc("f"), "term")  # input capped at 30 rows above
    return (
        top.select(F.row_number().over(w).alias("rank"), "term", "f")
        .withColumn("rank_x_freq",
                    F.round((F.col("f") * F.col("rank")).cast("double"), 1))
        .orderBy("rank")
    )


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH stats AS (
        SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 2) AS value,
           ROUND((e.value - s.mu) / s.sd, 4) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS((e.value - s.mu) / s.sd) > 3
    ORDER BY e.event_id
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection per event type: two-pass — per-type
    moments (one agg, a handful of rows), broadcast back onto the
    stream, filter |z| > 3. The fact side never shuffles; this is the
    monitoring query a pipeline runs over every metric column."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd"))
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select("event_id", "event_type",
                F.round("value", 2).alias("value"),
                F.round(z, 4).alias("zscore"))
        .orderBy("event_id")
    )


@query(
    "orders_pareto_customers",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, SUM(o_totalprice) AS revenue
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT o_custkey, revenue,
               SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                  ROWS UNBOUNDED PRECEDING) AS cum_rev,
               SUM(revenue) OVER () AS total_rev,
               ROW_NUMBER() OVER (ORDER BY revenue DESC, o_custkey) AS rk
        FROM per_cust
    )
    SELECT COUNT(*)                                        AS n_top_customers,
           (SELECT COUNT(*) FROM per_cust)                 AS n_customers,
           ROUND(MIN(cum_rev / total_rev), 4)              AS first_share,
           ROUND(MAX(cum_rev / total_rev), 4)              AS reached_share
    FROM ranked
    WHERE cum_rev - revenue < 0.8 * total_rev
    """,
)
def orders_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the minimal top-revenue customer set
    covering 80% of revenue. The predicate keeps exactly the customers
    whose PRE-inclusion cumulative share is below the threshold, i.e.
    the canonical 'crossing' set.

    Scale shape — the factored two-pass distributed prefix sum
    (operators/prefix.py::attach_running_total, shared with
    docs_token_budget_select), replacing the former single-partition
    running-total window (one task at a billion customers): range
    repartition on (revenue DESC, custkey) with the partition
    assignment frozen by an eager localCheckpoint (a correctness
    requirement — see the prefix-operator docstring), bounded
    ``defaultParallelism``-row offsets window, broadcast offsets +
    grand totals, per-partition parallel running-total window. No
    data-cardinality window anywhere."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("revenue"))
    ranked = attach_running_total(
        per_cust, "revenue", [F.desc("revenue"), F.col("o_custkey")],
        cum_col="cum_rev", total_col="_total", count_col="_n")
    top = ranked.filter(F.col("cum_rev") - F.col("revenue") < 0.8 * F.col("_total"))
    return (
        top.agg(
            F.count("*").alias("n_top_customers"),
            F.first("_n").alias("n_customers"),
            F.round(F.min(F.col("cum_rev") / F.col("_total")), 4).alias("first_share"),
            F.round(F.max(F.col("cum_rev") / F.col("_total")), 4).alias("reached_share"))
        .select("n_top_customers", "n_customers", "first_share", "reached_share")
    )


@query(
    "subq_q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def subq_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped top supplier: quarterly revenue per supplier,
    keep the supplier(s) hitting the global maximum. The correlated
    'revenue = (SELECT MAX(...))' is decorrelated to a 1-row max
    aggregate broadcast back onto the (already tiny) revenue table;
    the supplier dim joins broadcast. Revenue is rounded to cents on
    BOTH sides before the max-equality so double fold order cannot
    split the tie set. Shuffles: the l_suppkey agg only — the
    selective shipdate range reaches the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
                  & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz")))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("_mx"))
        .join(F.broadcast(s), rev.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "subq_q21_waiting_sole_late_supplier",
    oracle="""
    WITH fl AS (
        SELECT l.l_orderkey, l.l_suppkey,
               (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS is_late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM fl WHERE is_late) l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM fl l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM fl l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.is_late)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def subq_q21_waiting_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped 'suppliers who kept orders waiting': on
    finished orders, count per supplier the orders where it shipped
    late (> 60 days after order date; the synthetic schema has no
    commit/receipt dates) AND at least one other supplier is on the
    order (EXISTS -> left-semi) AND no other supplier was late
    (NOT EXISTS -> left-anti). Both correlated subqueries decorrelate
    to keyed semi/anti joins on l_orderkey — never nested loops; the
    shared finished-order line set is computed once and reused by all
    three roles (Catalyst reuses the shuffle exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    fl = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "l_suppkey",
                (F.col("l_shipdate") > F.col("o_orderdate")
                 + F.expr("INTERVAL 60 DAYS")).alias("is_late"))
    )
    l1 = fl.filter("is_late").select("l_orderkey", "l_suppkey").distinct()
    others = (fl.select(F.col("l_orderkey").alias("_ok"),
                        F.col("l_suppkey").alias("_sk"),
                        "is_late"))
    with_other = l1.join(
        others, (l1.l_orderkey == others._ok) & (l1.l_suppkey != others._sk),
        "left_semi")
    sole_late = with_other.join(
        others.filter("is_late"),
        (with_other.l_orderkey == others._ok) & (with_other.l_suppkey != others._sk),
        "left_anti")
    return (
        sole_late.join(F.broadcast(s), sole_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name").agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query(
    "agg_kll_quantiles",
    oracle="""
    SELECT event_type,
           ROUND(QUANTILE_CONT(value, 0.50), 2) AS p50,
           ROUND(QUANTILE_CONT(value, 0.90), 2) AS p90,
           ROUND(QUANTILE_CONT(value, 0.99), 2) AS p99,
           COUNT(*) AS n_rows,
           TRUE AS p50_in_band, TRUE AS p90_in_band, TRUE AS p99_in_band
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (Apache DataSketches KLL via
    kll_sketch_agg_double): per-event-type p50/p90/p99 of ``value``
    from a bounded-memory sketch instead of an exact sort — the
    rollup-friendly quantile path at 100 TB (kilobyte sketches merge
    with kll_sketch_merge_double; an exact percentile would buffer
    the whole group).

    PROMOTED rows-only -> driver oracle in r05 (VERDICT r04 item 2),
    minding the randomized-sketch exemption: KLL compaction flips real
    random bits, so the gate is a WIDE rank band — each sketch quantile
    must lie between the exact values at p±5% rank (the default k=200
    guarantees ~1.65% at 99.7% confidence; a 5% band's violation odds
    are astronomically small, making the boolean deterministic in
    practice). The emitted quantile columns are the EXACT ones; DuckDB
    restates them (QUANTILE_CONT matches Spark percentile
    interpolation, proven by agg_exact_percentiles) plus literal TRUE."""
    ev = load_table(spark, sf_dir, "events")
    ps, eps = (0.50, 0.90, 0.99), 0.05
    sk = ev.groupBy("event_type").agg(
        F.expr("kll_sketch_agg_double(value)").alias("sketch"),
        F.percentile("value", F.array(*(F.lit(p) for p in ps))).alias("ex"),
        F.percentile("value", F.array(*(F.lit(p - eps) for p in ps))).alias("lo"),
        F.percentile("value", F.array(*(F.lit(min(p + eps, 1.0)) for p in ps))).alias("hi"),
        F.count("*").alias("n_rows"))
    est = F.expr(
        "kll_sketch_get_quantile_double(sketch, array(0.5D, 0.9D, 0.99D))")
    sk = sk.withColumn("est", est)

    def band(i: int, name: str):
        return ((F.col("est")[i] >= F.col("lo")[i] - 1e-6)
                & (F.col("est")[i] <= F.col("hi")[i] + 1e-6)).alias(name)

    return (sk.select(
        "event_type",
        F.round(F.col("ex")[0], 2).alias("p50"),
        F.round(F.col("ex")[1], 2).alias("p90"),
        F.round(F.col("ex")[2], 2).alias("p99"),
        "n_rows",
        band(0, "p50_in_band"), band(1, "p90_in_band"),
        band(2, "p99_in_band"))
        .orderBy("event_type"))


@query(
    "agg_approx_topk_terms",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    )
    SELECT term, COUNT(*) AS exact_count,
           TRUE AS tracked, TRUE AS count_close
    FROM toks WHERE LENGTH(term) > 0
    GROUP BY term
    ORDER BY exact_count DESC, term
    LIMIT 10
    """,
)
def agg_approx_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items sketches (approx_top_k_accumulate /
    _combine / _estimate): per-source term sketches COMBINED into the
    global top-k without re-touching the raw token stream — the
    two-level rollup posture for 'top queries/terms/entities' over a
    100 TB corpus where an exact global count would shuffle the full
    vocabulary. The deliberately-small sketch (256 tracked items) makes
    the approximation path real.

    PROMOTED rows-only -> driver oracle in r05 (VERDICT r04 item 2):
    sketch tie order is engine-specific, so the emitted rows are the
    EXACT global top-10 (count DESC, term tie-break — SQL-restatable)
    with two booleans per term: ``tracked`` (the true heavy hitter
    survived the per-source accumulate + combine) and ``count_close``
    (its sketch estimate is within 5% of exact — the frequent-items
    guarantee on a corpus with clear margins, the same bound
    tests/test_queries_oracle.py::test_topk_sketch_close asserts).
    DuckDB restates the exact top-10 and literal TRUE."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    terms = (d.select("source",
                      F.explode(F.split(F.lower(F.trim(F.col("text"))), WS_CLASS))
                      .alias("term"))
             .filter(F.length("term") > 0))
    per_source = terms.groupBy("source").agg(
        F.expr("approx_top_k_accumulate(term, 256)").alias("sk"))
    sketch_top = (per_source.agg(
        F.expr("approx_top_k_estimate(approx_top_k_combine(sk, 256), 40)").alias("top"))
        .select(F.explode("top").alias("e"))
        .select(F.col("e.item").alias("term"),
                F.col("e.count").alias("est_count")))
    exact_top = (terms.groupBy("term").agg(F.count("*").alias("exact_count"))
                 .orderBy(F.desc("exact_count"), "term").limit(10))
    return (
        exact_top.join(F.broadcast(sketch_top), "term", "left")
        .select(
            "term", "exact_count",
            F.col("est_count").isNotNull().alias("tracked"),
            (F.col("est_count").isNotNull()
             & (F.abs(F.col("est_count") - F.col("exact_count"))
                <= 0.05 * F.col("exact_count"))).alias("count_close"))
        .orderBy(F.desc("exact_count"), "term")
    )


@query(
    "agg_theta_sketch_distinct",
    oracle="""
    SELECT source,
           COUNT(DISTINCT doc_id) AS exact_distinct_docs,
           COUNT(*)               AS n_rows,
           TRUE                   AS est_within_tol
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def agg_theta_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (theta_sketch_agg/theta_sketch_estimate):
    per-source distinct-doc estimates. Theta is the set-operation
    sketch family (union/intersection/difference over sketches), the
    complement of HLL's pure-union counting — at 100 TB it answers
    'uniques in A but not B' from kilobytes.

    PROMOTED rows-only -> driver oracle in r05 (VERDICT r04 item 2):
    each row emits the EXACT per-source distinct count plus a boolean
    asserting the theta estimate (fixed hash — deterministic given the
    input set) landed within 5%+2 of exact. DuckDB restates the exact
    columns and literal TRUE."""
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy("source")
            .agg(F.expr("theta_sketch_estimate(theta_sketch_agg(doc_id))")
                 .alias("est"),
                 F.countDistinct("doc_id").alias("exact_distinct_docs"),
                 F.count("*").alias("n_rows"))
            .select("source", "exact_distinct_docs", "n_rows",
                    (F.abs(F.col("est") - F.col("exact_distinct_docs"))
                     <= 0.05 * F.col("exact_distinct_docs") + F.lit(2))
                    .alias("est_within_tol"))
            .orderBy("source"))


@query(
    "events_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), islands AS (
        SELECT user_id, d,
               date_diff('day', DATE '2024-01-01', d)
                 - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS island_key
        FROM days
    ), streaks AS (
        SELECT user_id, island_key, COUNT(*) AS len, MIN(d) AS streak_start
        FROM islands GROUP BY user_id, island_key
    )
    SELECT user_id,
           COUNT(*)                 AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           MIN(streak_start)        AS first_active_day
    FROM streaks GROUP BY user_id ORDER BY user_id
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity streaks —
    the one classic windowed-analytics shape the registry lacked
    (sessionization is time-gap based; this is the calendar-day
    variant engagement analytics actually report as 'streaks').

    Plan shape: distinct (user, day) — one shuffle on the composite
    key; then EVERY window and aggregation is partitioned by user_id,
    so after the first exchange the whole island computation is
    shuffle-free per user slice (AQE coalesces the tiny groups). The
    day-number-minus-row-number island key is pure integer arithmetic
    on TIMESTAMP_NTZ-derived dates — session-timezone independent.
    No data-cardinality global window anywhere."""
    e = load_table(spark, sf_dir, "events")
    days = (e.select("user_id", F.to_date("ts").alias("d")).distinct())
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("d"))
    islands = days.select(
        "user_id", "d",
        (F.datediff("d", F.lit("2024-01-01").cast("date")) - rn).alias("island_key"))
    streaks = (islands.groupBy("user_id", "island_key")
               .agg(F.count("*").alias("len"), F.min("d").alias("streak_start")))
    return (
        streaks.groupBy("user_id")
        .agg(F.count("*").alias("n_streaks"),
             F.max("len").alias("longest_streak"),
             F.sum("len").alias("n_active_days"),
             F.min("streak_start").alias("first_active_day"))
        .orderBy("user_id")
    )


@query(
    "events_winsorized_stats",
    oracle="""
    WITH cuts AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*)                                              AS n_events,
           ROUND(AVG(e.value), 4)                                AS mean_raw,
           ROUND(AVG(LEAST(GREATEST(e.value, c.lo), c.hi)), 4)   AS mean_winsorized,
           ROUND(MIN(c.lo), 4)                                   AS p05,
           ROUND(MAX(c.hi), 4)                                   AS p95
    FROM events e JOIN cuts c USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clamped) robust means per event type — the
    outlier-resistant metric layer (complements events_anomaly_zscore,
    which FLAGS outliers; this bounds their influence). Spark
    ``percentile`` is the same linear-interpolation estimator as
    DuckDB ``quantile_cont`` (equivalence already pinned by
    agg_exact_percentiles), so the cut points are value-checked too.

    Scale shape: one partial-aggregated pass computes the per-type cut
    points (output rows = #event types, tiny); the cut table is
    BROADCAST back onto the fact scan, so the clamp+mean pass is a
    map-side join + one aggregation — the fact table shuffles only
    pre-aggregated per-type rows, never raw events."""
    e = load_table(spark, sf_dir, "events")
    cuts = (e.groupBy("event_type")
            .agg(F.expr("percentile(value, 0.05)").alias("lo"),
                 F.expr("percentile(value, 0.95)").alias("hi")))
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.avg("value"), 4).alias("mean_raw"),
             F.round(F.avg(clamped), 4).alias("mean_winsorized"),
             F.round(F.min("lo"), 4).alias("p05"),
             F.round(F.max("hi"), 4).alias("p95"))
        .orderBy("event_type")
    )


@query(
    "events_equidepth_histogram",
    oracle="""
    WITH cuts AS (
        SELECT quantile_cont(value, 0.1) AS c1, quantile_cont(value, 0.2) AS c2,
               quantile_cont(value, 0.3) AS c3, quantile_cont(value, 0.4) AS c4,
               quantile_cont(value, 0.5) AS c5, quantile_cont(value, 0.6) AS c6,
               quantile_cont(value, 0.7) AS c7, quantile_cont(value, 0.8) AS c8,
               quantile_cont(value, 0.9) AS c9
        FROM events
    )
    SELECT 1 + CAST(value > c1 AS INT) + CAST(value > c2 AS INT)
             + CAST(value > c3 AS INT) + CAST(value > c4 AS INT)
             + CAST(value > c5 AS INT) + CAST(value > c6 AS INT)
             + CAST(value > c7 AS INT) + CAST(value > c8 AS INT)
             + CAST(value > c9 AS INT)  AS bucket,
           COUNT(*)                     AS n_events,
           ROUND(MIN(value), 4)         AS lo,
           ROUND(MAX(value), 4)         AS hi
    FROM events, cuts
    GROUP BY bucket ORDER BY bucket
    """,
)
def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH (decile) histogram — equal-population buckets whose
    BOUNDARIES adapt to the distribution (events_value_histogram is
    the fixed-width complement). The naive form is NTILE over a global
    sort (single reducer); this is the scale-correct rewrite: one
    aggregation computes the 9 interior deciles (Spark ``percentile``
    ≡ DuckDB ``quantile_cont``, equivalence pinned by
    agg_exact_percentiles), the 1-row cut table broadcasts back onto
    the fact scan, and the bucket id is a branch-free sum of
    comparisons — map-side partial agg, no global sort, no window.
    At 100 TB the exact-percentile pass would swap for the mergeable
    approx_percentile sketch (agg_approx_percentiles) unchanged."""
    e = load_table(spark, sf_dir, "events")
    cuts = e.agg(*[F.expr(f"percentile(value, 0.{i})").alias(f"c{i}")
                   for i in range(1, 10)])
    bucket = F.lit(1)
    for i in range(1, 10):
        bucket = bucket + (F.col("value") > F.col(f"c{i}")).cast("int")
    return (
        e.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_events"),
             F.round(F.min("value"), 4).alias("lo"),
             F.round(F.max("value"), 4).alias("hi"))
        .orderBy("bucket")
    )


@query(
    "dq_key_skew_profile",
    oracle="""
    WITH freq_cust AS (
        SELECT o_custkey AS key, COUNT(*) AS f FROM orders GROUP BY o_custkey
    ), freq_part AS (
        SELECT l_partkey AS key, COUNT(*) AS f FROM lineitem GROUP BY l_partkey
    ), prof AS (
        SELECT 'orders.o_custkey' AS join_key, COUNT(*) AS n_keys,
               CAST(SUM(f) AS BIGINT) AS n_rows, CAST(MAX(f) AS BIGINT) AS max_freq,
               ROUND(MAX(f) / (CAST(SUM(f) AS DOUBLE) / COUNT(*)), 4) AS skew_ratio
        FROM freq_cust
        UNION ALL
        SELECT 'lineitem.l_partkey', COUNT(*),
               CAST(SUM(f) AS BIGINT), CAST(MAX(f) AS BIGINT),
               ROUND(MAX(f) / (CAST(SUM(f) AS DOUBLE) / COUNT(*)), 4)
        FROM freq_part
    )
    SELECT * FROM prof ORDER BY join_key
    """,
)
def dq_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the measurement behind every
    broadcast-vs-salt decision (operators/skew.py implements the cure;
    this query is the diagnosis): per candidate join key, key
    cardinality, row count, hottest-key frequency, and the
    max/mean-frequency skew ratio. A ratio near 1 = uniform (hash
    partitions balance); a large ratio says the hottest key's
    partition dominates the stage and the join needs salting or an
    AQE skew split.

    Scale shape: one partial-aggregated count per key per table (the
    same shuffle the real join would pay, ~free as an audit), each
    folded to a 1-row profile; profiles unioned. No distinct-heavy
    second pass — n_keys rides the same aggregation."""
    def profile(df: DataFrame, key: str, label: str) -> DataFrame:
        freq = df.groupBy(F.col(key).alias("key")).agg(F.count("*").alias("f"))
        return freq.agg(
            F.lit(label).alias("join_key"),
            F.count("*").alias("n_keys"),
            F.sum("f").alias("n_rows"),
            F.max("f").alias("max_freq"),
            F.round(F.max("f") / (F.sum("f").cast("double") / F.count("*")), 4)
             .alias("skew_ratio"),
        ).select("join_key", "n_keys", "n_rows", "max_freq", "skew_ratio")

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        profile(o, "o_custkey", "orders.o_custkey")
        .unionAll(profile(li, "l_partkey", "lineitem.l_partkey"))
        .orderBy("join_key")
    )


@query(
    "win_order_analytics_ext",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(FIRST_VALUE(o_totalprice)
                 OVER (w ROWS UNBOUNDED PRECEDING), 2)            AS first_price,
           ROUND(NTH_VALUE(o_totalprice, 2)
                 OVER (w ROWS UNBOUNDED PRECEDING), 2)            AS second_price,
           ROUND(CUME_DIST() OVER w, 6)                           AS cume,
           ROUND(SUM(o_totalprice)
                 OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
                                                                  AS moving_sum3,
           ROUND(MAX(o_totalprice)
                 OVER (w ROWS UNBOUNDED PRECEDING), 2)            AS max_so_far
    FROM orders WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def win_order_analytics_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second window-analytics suite: first_value / nth_value /
    cume_dist / sliding-ROWS moving sum / running max — the
    analytic functions win_order_analytics doesn't cover, completing
    the window surface. Same single-spec discipline: every function
    shares (PARTITION BY custkey ORDER BY date, key), so the plan
    stays ONE shuffle + ONE sort with one Window pass; frames are
    pinned to ROWS explicitly (default RANGE frames are tie-sensitive
    and engines disagree on ties). The sliding aggregate is a SUM,
    not an AVG: 2-decimal prices make the 3-row sum exact in a
    double, while an AVG of two such values lands exactly on the
    .xx5 rounding boundary where the engines' ROUND()s diverge."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_m3 = w.rowsBetween(-2, W.currentRow)
    return (
        o.select(
            "o_custkey", "o_orderkey",
            F.round(F.first("o_totalprice").over(w_run), 2).alias("first_price"),
            F.round(F.nth_value("o_totalprice", 2).over(w_run), 2).alias("second_price"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(F.sum("o_totalprice").over(w_m3), 2).alias("moving_sum3"),
            F.round(F.max("o_totalprice").over(w_run), 2).alias("max_so_far"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "agg_boolean_suite",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*)                                              AS n_orders,
           BOOL_AND(o_totalprice > 1000)                         AS all_over_1k,
           BOOL_OR(o_totalprice > 400000)                        AS any_over_400k,
           CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(MIN(o_orderkey) AS BIGINT)                       AS first_key
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_boolean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean / filtered aggregate suite: BOOL_AND, BOOL_OR, and the
    FILTER-clause count (Spark ``count_if``) — predicate rollups a
    monitoring layer asks constantly ('do ALL orders clear the
    floor?', 'did ANY breach the cap?'). All are single-pass partial
    aggregates (booleans merge as AND/OR map-side), one shuffle on the
    group key."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"),
             F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
             F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
             F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
             F.min("o_orderkey").alias("first_key"))
        .orderBy("o_orderpriority")
    )


@query(
    "fn_json_map_suite",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT)  AS k_value,
           (json_extract(props, '$.missing') IS NULL)  AS missing_is_null,
           CAST(len(json_keys(props)) AS BIGINT)       AS n_keys
    FROM events ORDER BY event_id
    """,
)
def fn_json_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON access parity (extends
    events_props_json_extract): typed path extraction, missing-path
    NULL semantics, and full-document parse to a typed MAP with key
    cardinality — the props-column access patterns the reference's
    JSONB column serves (reference create_table.sql: metadata JSONB).
    Pure projection over one scan; from_json is codegen'd JVM-side,
    no UDF.

    Key cardinality parses as map<string,STRING> (round-3 ADVICE): a
    bigint-valued map would go entirely NULL if any document carried a
    non-integer value, silently diverging from the oracle's json_keys;
    the string map counts keys for ANY value types, keeping the typed
    bigint extraction a separate, independently-NULL-able column."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "map<string,string>")
    return (
        e.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k_value"),
            F.get_json_object("props", "$.missing").isNull()
             .alias("missing_is_null"),
            F.size(parsed).cast("long").alias("n_keys"),
        )
        .orderBy("event_id")
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               MIN(EXTRACT(YEAR FROM o_orderdate))::BIGINT AS cohort_year
        FROM orders GROUP BY o_custkey
    ), cells AS (
        SELECT f.cohort_year,
               EXTRACT(YEAR FROM o.o_orderdate)::BIGINT - f.cohort_year
                   AS offset_years,
               COUNT(DISTINCT o.o_custkey) AS n_active,
               ROUND(SUM(o.o_totalprice), 2) AS revenue
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    )
    SELECT cohort_year, offset_years, n_active, revenue,
           ROUND(SUM(revenue) OVER (PARTITION BY cohort_year
                 ORDER BY offset_years ROWS UNBOUNDED PRECEDING), 2)
               AS cum_revenue
    FROM cells ORDER BY cohort_year, offset_years
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-
    order year, revenue tracked by years-since-acquisition, with the
    running cumulative LTV per cohort — the acquisition-economics view
    events_user_retention (activity counts) doesn't give.

    Scale shape: the cohort assignment is one aggregation on custkey;
    the fact re-join is a custkey-partitioned equi-join (the SAME
    clustering the aggregation just produced — no broadcast needed and
    none attempted, since at scale the customer dimension is large);
    cells collapse to (#cohorts x #offsets) rows, so the cumulative
    window runs over a bounded per-cohort handful. One custkey
    shuffle + one cell aggregation end to end."""
    o = load_table(spark, sf_dir, "orders")
    firsts = (o.groupBy("o_custkey")
              .agg(F.min(F.year("o_orderdate").cast("long"))
                   .alias("cohort_year")))
    cells = (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_year",
                 (F.year("o_orderdate").cast("long") - F.col("cohort_year"))
                 .alias("offset_years"))
        .agg(F.countDistinct("o_custkey").alias("n_active"),
             F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = (W.partitionBy("cohort_year").orderBy("offset_years")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        cells.select("cohort_year", "offset_years", "n_active", "revenue",
                     F.round(F.sum("revenue").over(w), 2).alias("cum_revenue"))
        .orderBy("cohort_year", "offset_years")
    )
