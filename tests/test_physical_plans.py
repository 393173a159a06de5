"""Physical-plan audits: the scale posture each query docstring claims
must be visible in the executed plan — broadcast joins where a side is
a dimension, pushed filters at the parquet scan, pruned read schemas,
no cartesian products, bounded exchange counts. These are the
properties that decide whether the plan survives a 100 TB input.
"""

from __future__ import annotations

import re

import pytest

from hackmd_data_pipeline_spark.plans import REGISTRY

from .conftest import SF_CORRECT


def plan_of(spark, name: str) -> str:
    import contextlib
    import io

    df = REGISTRY[name].builder(spark, SF_CORRECT)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    # count shuffle exchanges only (broadcast exchanges are cheap);
    # formatted explain carries the partitioning in the node's
    # Arguments detail line, never as "Exchange hashpartitioning"
    # (the simple-mode spelling — matching it counts 0 on every
    # formatted plan; r08, same counting as scripts/plan_audit.py)
    return len(re.findall(r"\bhashpartitioning\(", plan)) + len(
        re.findall(r"\brangepartitioning\(", plan))


@pytest.mark.parametrize("name", [
    "join_q3_shipping_topk", "join_q5_local_supplier_volume",
    "join_q14_promo_share", "join_q10_returned_items",
])
def test_dimension_joins_broadcast(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_scan_is_pruned_and_partial_agg(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # two HashAggregate nodes = map-side partial + final (the shuffle
    # moves one pre-aggregated row per group per partition, not rows)
    assert len(re.findall(r"\bHashAggregate\b", plan)) >= 2
    # the pricing summary needs 7 lineitem columns; the scan must not
    # read the full 11-column schema
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert "l_orderkey" not in read_cols and "l_partkey" not in read_cols, (
        f"q1 reads unneeded columns: {read_cols}")


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "join_q10_returned_items")
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan), (
        "l_returnflag filter not pushed to the lineitem scan")


def test_topk_no_global_sort(spark):
    # order+limit queries must plan TakeOrderedAndProject, not a full
    # rangepartitioning sort followed by a limit
    for name in ("join_q3_shipping_topk", "join_q10_returned_items"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, f"{name}: global sort instead of top-k"


def test_asof_join_single_key_shuffle(spark):
    plan = plan_of(spark, "events_asof_join")
    # union-scan as-of: the only hash shuffles are the user_id window
    # partitioning (+ a possible final sort range exchange)
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) <= 1, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # no join at all — window carry


def test_anti_join_dedup_broadcasts_id_set(spark):
    plan = plan_of(spark, "o22_anti_join_dedup")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan) or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan), (
        "bounded id set should broadcast for the anti join")


def test_sessionization_single_shuffle_reused(spark):
    plan = plan_of(spark, "events_sessionization")
    # both window passes + the final agg share the (user_id) clustering;
    # allow the agg exchange but the window partitioning must appear once
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) <= 2, plan


def test_minhash_lsh_joins_are_equi(spark):
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_exists_plans_semi_join(spark):
    plan = plan_of(spark, "subq_q4_priority_exists")
    assert "LeftSemi" in plan, "EXISTS must decorrelate to a semi join"
    assert "CartesianProduct" not in plan


def test_q16_notin_plans_broadcast_anti(spark):
    plan = plan_of(spark, "subq_q16_notin_suppliers")
    assert "LeftAnti" in plan, "NOT IN over non-null key must be an anti join"
    assert "BroadcastHashJoin" in plan


def test_q17_fact_never_shuffles(spark):
    # both the brand partkey set and the per-part avg are broadcast:
    # the only hash exchange allowed is the per-part partial agg
    plan = plan_of(spark, "subq_q17_small_qty_revenue")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 3
    assert len(re.findall(r"\bhashpartitioning\(", plan)) <= 1, plan


def test_q22_scalar_subquery_is_broadcast_not_collect(spark):
    plan = plan_of(spark, "subq_q22_idle_rich_customers")
    # 1-row scalar agg joined via broadcast nested loop (1 row -> free),
    # urgent-keys anti join present; no cartesian product
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_window_suite_single_shuffle(spark):
    plan = plan_of(spark, "win_order_analytics")
    # all analytic functions share one window spec -> exactly one
    # hashpartitioning exchange (the other exchange is the final
    # rangepartitioning presentation sort) and ONE Window operator
    # evaluating all six functions
    assert len(re.findall(r"\bhashpartitioning\(", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


# ------------------------------------------------- registry-wide sweep

# queries where a BroadcastNestedLoopJoin is INTENTIONAL and bounded:
#   - 1-row scalar-aggregate build sides (cutoffs, corpus size, avg):
#     o19_time_range_filter, subq_q22_idle_rich_customers,
#     text_keywords_tfidf
#   - deliberately-broadcast tiny query/centroid sets on a non-equi
#     condition (the documented brute-force baseline and the
#     query-to-nprobe-cells probe): sim_cosine_topk, sim_ann_ivf
_BNLJ_OK = {
    "o19_time_range_filter",
    "subq_q22_idle_rich_customers",
    "text_keywords_tfidf",
    "sim_cosine_topk",
    "events_type_cooccurrence",  # 1-row user-count scalar cross join
    "customer_rfm_segments",     # 1-row percentile-cut-points cross join
    "orders_pareto_customers",   # 1-row totals scalar cross join
    "docs_token_budget_select",  # 1-row totals scalar cross join (prefix op)
    "docs_dsir_select",          # 1-row totals scalar cross join (prefix op)
    "events_equidepth_histogram",  # 1-row decile-cuts scalar cross join
    "graph_triangle_stats",        # 1-row scalar-aggregate cross joins
    "docs_lm_perplexity",          # 1-row vocab-size scalar cross join
    "events_resample_ffill",       # 1-row hour-bounds scalar cross join
    "agg_hll_mergeable",           # 1-row global-exact scalar cross join (r05)
    "sim_ann_ivf_recall",          # 1-row corpus-recall scalar cross join (r05)
    "sim_ann_lsh_recall",          # 1-row corpus-recall scalar cross join (r05)
    "subq_q2_min_cost_supplier",   # 1-row supplier-count scalar cross join (r05)
    "subq_q11_important_stock",    # 1-row count + 1-row total scalar cross joins
    "subq_q20_excess_stock",       # 1-row supplier-count scalar cross join (r05)
    "agg_cms_heavy_hitters",       # 1-row token-total scalar cross join (r05)
    "sim_ann_ivfpq_recall",        # 1-row corpus-recall scalar cross join (r05)
    "docs_temperature_sample",     # 1-row min/total + total-kept scalar cross joins
    "sim_knn_join_ivf",            # 1-row corpus-recall scalar cross join
    "sim_knn_join_ivfpq",          # 1-row corpus-recall scalar cross join
    "sim_knn_join_ivf_upsert",     # 1-row corpus-recall scalar cross join
    "sim_knn_join_ivfpq_upsert",   # 1-row corpus-recall scalar cross join
    "sim_knn_join_pointer_cycle",  # 1-row corpus-recall scalar cross join (r09)
    "sim_knn_join_ivf_asof",       # 1-row corpus-recall scalar cross join (r09)
    "sim_knn_join_text_hashed",    # 1-row corpus-recall scalar cross join (r10)
    "docs_decontamination_ann",    # 1-row flagged-recall scalar cross join (r11)
    "sim_knn_join_media_features",  # 1-row corpus-recall scalar cross join (r11)
}


def test_pareto_prefix_sum_reads_frozen_partitioning(spark):
    """The Pareto two-pass prefix sum must not pay a per-branch range
    shuffle, and must not leave partition assignment to AQE's
    ReusedExchange heuristic (a CORRECTNESS hazard: un-reused range
    exchanges sample boundaries independently and the offsets then
    describe partitions the ranked branch doesn't hold — see
    operators/prefix.py). After the eager checkpoint inside
    attach_running_total, the query's executed plan consumes the
    frozen partitioning: checkpoint-RDD scans, zero rangepartitioning
    exchanges."""
    df = REGISTRY["orders_pareto_customers"].builder(spark, SF_CORRECT)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan
    assert "ExistingRDD" in plan, plan


# Unpartitioned Window nodes funnel their whole input through ONE
# task — allowed only where the input is provably bounded first.
_GLOBAL_WINDOW_OK = {
    "docs_zipf_rank_frequency",   # input capped at 30 rows by TakeOrderedAndProject
    "orders_pareto_customers",    # offsets window over <= defaultParallelism stats rows
    "docs_token_budget_select",   # same bounded offsets window (prefix op)
    "docs_dsir_select",           # same bounded offsets window (prefix op)
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unbounded_global_window(spark, name):
    """No registered query may rank/accumulate unbounded rows in a
    single-partition window (the r01 verdict's RFM/Zipf/Pareto
    finding, now pinned registry-wide). A windowspecdefinition's args
    before the frame are partition exprs then order exprs (order exprs
    carry ASC/DESC); a spec whose every leading arg is an order expr —
    or that has none — is a global window. (The old two-bracket-group
    line heuristic misread partitioned-but-UNORDERED windows, e.g. the
    per-fingerprint conditional MIN in docs_curation_decisions, as
    global.)"""
    import re
    if name in _GLOBAL_WINDOW_OK:
        return
    df = REGISTRY[name].builder(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split("specifiedwindowframe")[0]
        args = [a.strip() for a in head.split(",") if a.strip()]
        partitioned = any(" ASC" not in a and " DESC" not in a for a in args)
        assert partitioned, (
            f"{name} plans a single-partition global window: "
            f"windowspecdefinition({spec[:120]}...)")


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unbounded_join_anywhere(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join")


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime Bloom-filter join pruning: when the dim side is
    selective and broadcast is disabled (the 100 TB fact-fact case),
    Spark injects a bloom_filter_agg on the dim keys and a
    might_contain filter on the FACT scan — rows that cannot join die
    at the scan, before the shuffle. Thresholds are size-based; the
    test pins them low enough to fire at test scale."""
    from pyspark.sql import functions as F
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from hackmd_data_pipeline_spark.tables import load_table
        li = load_table(spark, SF_CORRECT, "lineitem")
        o = load_table(spark, SF_CORRECT, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT")
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").count())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "no runtime bloom filter injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", sorted(n for n, q in REGISTRY.items() if q.oracle))
def test_oracle_queries_emit_scalar_columns_only(spark, name):
    """The external driver canonicalizes results with a pandas
    sort+hash that cannot factorize list/map/struct cells (r01:
    fn_collection_suite crashed with 'unhashable type: list').
    Every oracle-checked query must therefore project complex types
    to scalars (array_join / size / element extracts) before
    returning."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = REGISTRY[name].builder(spark, SF_CORRECT)
    complex_cols = [f.name for f in df.schema.fields
                    if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    assert not complex_cols, (
        f"{name} emits complex-typed columns {complex_cols}; the driver's "
        "canonicalizer cannot hash them — project to scalars")


def test_keep_best_is_single_agg_no_window(spark):
    """dedup_keep_best claims one max_by aggregate — no window, no
    self-join: exactly one hash-exchange (the fingerprint groupBy;
    orderBy adds a range exchange), no Window or Join operators."""
    plan = plan_of(spark, "dedup_keep_best")
    assert "Window" not in plan
    assert "Join" not in plan
    # formatted mode puts the partitioning in the Arguments lines
    assert len(re.findall(r"hashpartitioning", plan)) == 1


def test_split_assign_zero_join_one_agg_shuffle(spark):
    """docs_split_assign: assignment is a projection; the only hash
    shuffle is the per-split aggregation."""
    plan = plan_of(spark, "docs_split_assign")
    assert "Join" not in plan
    # distinct-lang count rewrites via expand: <=2 hash exchanges
    assert len(re.findall(r"hashpartitioning", plan)) <= 2


def test_oov_vocab_joins_broadcast(spark):
    """docs_oov_rate: the bounded vocab must reach the corpus tokens
    as a BROADCAST join — a shuffled membership join would move every
    token in the corpus."""
    plan = plan_of(spark, "docs_oov_rate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_predicate_stays_scan_side(spark):
    """docs_sample_stratified is projection + one aggregation — no
    join, no window."""
    plan = plan_of(spark, "docs_sample_stratified")
    assert "Join" not in plan and "Window" not in plan


def test_topic_score_broadcast_pin_no_python_rdd(spark):
    """text_topics_score: the pinned artifact must reach the exploded
    tokens as a BROADCAST build side built from a JVM literal — not a
    Scan ExistingRDD (a Python-serialized RDD would put a Python
    round-trip inside the broadcast build at every executor); one
    hash shuffle for the (doc, topic) sum, rank-1 pushed down as
    WindowGroupLimit."""
    plan = plan_of(spark, "text_topics_score")
    assert "BroadcastHashJoin" in plan
    assert "ExistingRDD" not in plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_source_edge_aggs_partial_and_single_shuffle(spark):
    """The wire-format round-trip queries aggregate the READ-BACK
    rows: partial aggregation before the single group-by shuffle (the
    map-side combine that makes the agg scale), no join anywhere."""
    for name in ("src_csv_orders_agg", "src_orc_part_agg"):
        plan = plan_of(spark, name)
        assert "partial_count" in plan or "partial_sum" in plan, name
        assert "Join" not in plan, name
        # one hash shuffle (the group-by); the final orderBy is range
        assert len(re.findall(r"hashpartitioning", plan)) == 1, name


@pytest.mark.parametrize("name", ["sim_knn_join_ivf", "sim_knn_join_ivfpq"])
def test_knn_join_prunes_index_partitions_and_broadcasts(spark, name):
    """The kNN joins (r07 VERDICT item 3): the ANN side's index scan
    must read only probed cell PARTITIONS (the partition-pruned
    inverted-file lookup), and the probe/batch frames must broadcast —
    the corpus-side index streams, never shuffles. (BNLJ whitelist:
    the bounded query x centroid probe cross join; the exact ground
    truth is the matmul-blocked kernel, not a pair join.)"""
    plan = plan_of(spark, name)
    m = re.search(r"PartitionFilters: \[([^\]]*cell[^\]]*)\]", plan)
    assert m, f"no cell partition filter on the index scan:\n{plan}"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["sim_knn_join_ivf_upsert",
                                  "sim_knn_join_ivfpq_upsert"])
def test_knn_join_upsert_prunes_every_generation(spark, name):
    """The upsert kNN joins (r08): the index scan is a UNION of the
    flat base and the committed epoch delta — the probed-cell filter
    must push through the union into the PartitionFilters of BOTH
    generation scans (a delta that reads all cells would silently
    re-widen the lookup as the index grows), and the probe/batch
    frames must broadcast."""
    plan = plan_of(spark, name)
    prunes = re.findall(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan)
    assert len(prunes) >= 2, (
        f"cell partition filter missing on a generation scan:\n{plan}")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cluster_update_resolution_shape(spark):
    """dedup_cluster_update: the resolved-view read must not plan a
    cartesian anywhere, and the overlay resolution window must ride a
    single hash exchange on id (latest-per-id)."""
    plan = plan_of(spark, "dedup_cluster_update")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # formatted explain carries exchange args in the details section
    assert re.search(r"hashpartitioning\(id#", plan), (
        "overlay resolution should shuffle once on id")
    # one id window shuffle + the presentation range sort, nothing else
    assert n_exchanges(plan) <= 2, plan


def _jwalk(node):
    yield node
    cs = node.children()
    for i in range(cs.length()):
        yield from _jwalk(cs.apply(i))


def _scan_paths(node):
    """Root paths of every FileSourceScan in ``node``'s subtree."""
    out = []
    for n in _jwalk(node):
        if n.getClass().getSimpleName() == "FileSourceScanExec":
            rp = n.relation().location().rootPaths()
            out.extend(rp.apply(i).toString() for i in range(rp.length()))
    return out


def _assert_store_never_broadcast_raw(df, store_path: str) -> None:
    """The bounded-id-skip invariant (r08 VERDICT item 1): any store
    rows crossing a broadcast BUILD side must first have been
    semi-joined down to batch cardinality — i.e. every
    BroadcastHashJoin whose build subtree scans the store must carry a
    LeftSemi join inside that subtree (the two-step form). A build
    subtree scanning the store with NO semi-reduction is the
    table-wide broadcast that OOMs at 10^9 stored ids."""
    plan = df._jdf.queryExecution().sparkPlan()
    bhjs = [n for n in _jwalk(plan)
            if n.getClass().getSimpleName() == "BroadcastHashJoinExec"]
    assert bhjs, "expected broadcast hash joins in the id-skip plan"
    checked = 0
    for j in bhjs:
        side = j.buildSide().toString()
        build = j.children().apply(1 if side == "BuildRight" else 0)
        if any(store_path in p for p in _scan_paths(build)):
            semi = [n for n in _jwalk(build)
                    if n.getClass().getSimpleName() == "BroadcastHashJoinExec"
                    and n.joinType().toString() == "LeftSemi"]
            assert semi, (
                "store rows broadcast WITHOUT a bounding semi-join:\n"
                + plan.toString())
            # and the semi join's own build side must NOT scan the store
            # (its build side is the batch key set)
            for s in semi:
                sside = s.buildSide().toString()
                sbuild = s.children().apply(1 if sside == "BuildRight" else 0)
                assert not any(store_path in p for p in _scan_paths(sbuild)), (
                    "the bounding semi-join broadcasts the store itself:\n"
                    + plan.toString())
            checked += 1
    assert checked, "no broadcast build subtree touched the store " \
        "(test wiring is wrong)"


def test_ingest_id_skip_broadcast_bounded_by_batch(spark, tmp_path):
    """Both ingest streams' table-wide exact-id skip (r08 VERDICT item
    1): the stored-id set must STREAM through a semi-join against the
    broadcast batch keys, with only the matched (<= batch-sized) set
    broadcast for the anti-join — no broadcast may scale with
    store/index size. Exercises the exact expressions the streams
    build: the neardup skip over the signature store's id column and
    the ANN skip over ivf_index_data."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.joins import bounded_anti_join
    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_data,
    )
    from hackmd_data_pipeline_spark.tables import load_table

    # --- neardup stream shape: signatures store id column
    sig_store = str(tmp_path / "store" / "signatures")
    spark.range(0, 5000).select(F.col("id").alias("doc_id")) \
        .write.parquet(sig_store + "/epoch=0")
    batch = str(tmp_path / "batch")
    spark.range(4990, 5010).select(F.col("id").alias("doc_id")) \
        .write.parquet(batch)
    bdf = spark.read.parquet(batch)
    skipped = bounded_anti_join(
        bdf, spark.read.parquet(sig_store).select("doc_id"), "doc_id")
    _assert_store_never_broadcast_raw(skipped, sig_store)
    assert sorted(r.doc_id for r in skipped.collect()) == list(
        range(5000, 5010))

    # --- ANN stream shape: the index data table's id column
    idx = str(tmp_path / "idx")
    emb = load_table(spark, SF_CORRECT, "embeddings")
    build_ivf_index(emb.filter(F.col("vec_id") < 200), idx, nlist=4)
    vbatch = emb.filter((F.col("vec_id") >= 195) & (F.col("vec_id") < 205))
    fresh = bounded_anti_join(
        vbatch, ivf_index_data(spark, idx).select("vec_id"), "vec_id")
    _assert_store_never_broadcast_raw(fresh, idx)
    assert sorted(r.vec_id for r in fresh.select("vec_id").collect()) == list(
        range(200, 205))


def test_plan_audit_covers_entire_registry():
    """r09 VERDICT item 4: PLANS.md is the anti-pattern tripwire — it
    must never lag the registry again (r09 shipped 3 registry entries
    with no audit row). The audit's row set must equal REGISTRY's key
    set exactly; regenerate with scripts/plan_audit.py after adding or
    removing a query."""
    import re
    from pathlib import Path

    from hackmd_data_pipeline_spark.plans import REGISTRY

    plans = Path(__file__).resolve().parent.parent / "PLANS.md"
    assert plans.exists(), "PLANS.md missing — run scripts/plan_audit.py"
    rows = set()
    for line in plans.read_text().splitlines():
        m = re.match(r"\| ([a-z0-9_]+) \| (?:oracle|rows-only) \|", line)
        if m:
            rows.add(m.group(1))
    assert rows == set(REGISTRY), (
        f"PLANS.md lags the registry — missing: "
        f"{sorted(set(REGISTRY) - rows)}, stale: {sorted(rows - set(REGISTRY))}"
        " (regenerate: python scripts/plan_audit.py)")
