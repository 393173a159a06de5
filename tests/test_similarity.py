"""Quality checks for the approximate operators that the DuckDB oracle
cannot express: IVF ANN recall vs the exact baseline, and MinHash-LSH
recall vs exact pairwise Jaccard on a small slice.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.dedup import minhash_lsh_pairs, shingles
from hackmd_data_pipeline_spark.operators.similarity import brute_force_topk, ivf_topk
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_CORRECT, SF_SMOKE, local_df


def test_ivf_recall_vs_exact(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")

    exact = brute_force_topk(emb, queries, k=10)
    approx = ivf_topk(emb, queries, k=10, nlist=16, nprobe=4)

    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe=4/16 on clustered synthetic data should recover most of
    # the true neighbors; the exact bar documents the quality contract
    assert recall >= 0.5, f"IVF recall {recall:.2f} below contract"

    # approximate scores that DO appear must equal the exact scores
    joined = (approx.withColumnRenamed("cosine", "c_approx")
              .join(exact.withColumnRenamed("cosine", "c_exact"),
                    ["query_id", "vec_id"]))
    assert joined.filter(F.abs(F.col("c_approx") - F.col("c_exact")) > 1e-9).count() == 0


def test_minhash_lsh_finds_exact_duplicates(spark):
    """Exact duplicates (jaccard=1.0) MUST survive LSH banding: every
    band hash agrees, so the pair is always a candidate."""
    d = load_table(spark, SF_CORRECT, "documents").limit(200)
    # clone 5 docs under shifted ids -> 5 known-duplicate pairs
    clones = d.limit(5).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = d.select("doc_id", "text").union(clones)

    pairs = minhash_lsh_pairs(corpus, jaccard_threshold=0.99)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(r.doc_id, r.doc_id + 1_000_000) for r in d.limit(5).collect()}
    assert expected <= found


def test_lsh_no_false_positives_after_verify(spark):
    """The exact-Jaccard verify stage must hold the threshold even when
    the banding produces spurious candidates."""
    d = load_table(spark, SF_CORRECT, "documents").limit(300)
    pairs = minhash_lsh_pairs(d, jaccard_threshold=0.3).collect()
    if not pairs:
        return
    sh = {r.doc_id: set(r.sh) for r in
          d.select("doc_id", shingles(F.col("text")).alias("sh")).collect()}
    for p in pairs:
        a, b = sh[p.id_a], sh[p.id_b]
        true_j = len(a & b) / len(a | b)
        assert abs(true_j - p.jaccard) < 1e-3
        assert p.jaccard >= 0.3


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """The persisted IVF index: search results must match the
    in-memory IVF path (same quantizer seed), and the probe scan must
    read only the probed cell directories (partition pruning visible
    in the scan's partition filters)."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, ivf_search_index, ivf_topk)
    from hackmd_data_pipeline_spark.tables import load_table

    from .conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    idx = str(tmp_path / "ivf_index")
    build_ivf_index(emb, idx, nlist=16, seed=42)
    got = ivf_search_index(spark, idx, queries, k=10, nprobe=4)
    want = ivf_topk(emb, queries, k=10, nlist=16, nprobe=4, seed=42)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # partition pruning: the data scan must carry a partition filter
    # on cell (cell IN (...)), i.e. only nprobe directories are read
    probe_cells = {int(r.cell) for r in
                   spark.read.parquet(idx + "/data").select("cell")
                   .distinct().collect()}
    assert len(probe_cells) > 4, "index degenerate: too few cells to prune"
    import re
    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*cell[^\]]*)\]", plan)
    assert m, f"no partition filter on cell in scan:\n{plan}"


def test_lsh_ann_finds_planted_neighbors(spark):
    """LSH's contract is the HIGH-similarity regime (no natural pair
    in the synthetic embeddings exceeds cosine ~0.51, so natural
    top-10 recall cannot separate LSH from chance): plant near-exact
    duplicates and require the sharp-bucket configuration to surface
    them as the top hit, with exact rescored cosines."""
    import numpy as np

    from hackmd_data_pipeline_spark.operators.similarity import (
        cosine,
        lsh_hyperplane_topk,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.limit(3).collect()
    # queries = tiny perturbations of 3 corpus vectors (cosine > 0.99)
    rng = np.random.default_rng(7)
    qrows = [(int(r.vec_id) + 5_000_000,
              [float(x) + float(e) for x, e in
               zip(r.embedding, rng.normal(0, 1e-3, len(r.embedding)))])
             for r in base]
    queries = spark.createDataFrame(qrows, "query_id long, embedding array<float>")

    res = lsh_hyperplane_topk(emb, queries, k=5, n_planes=10, n_tables=6)
    top1 = {r.query_id: (r.vec_id, r.cosine) for r in res.collect() if r.rank == 1}
    for r in base:
        planted = int(r.vec_id) + 5_000_000
        assert planted in top1, f"planted query {planted} found nothing"
        assert top1[planted][0] == r.vec_id, (
            f"planted near-dup of {r.vec_id} not the top hit: {top1[planted]}")
        assert top1[planted][1] > 0.99

    # rescored cosines must equal the exact definition
    qdf = queries.withColumnRenamed("query_id", "qid")
    joined = (res.join(emb.select("vec_id", F.col("embedding").alias("cvec")), "vec_id")
              .join(qdf, res.query_id == qdf.qid)
              .select("cosine", cosine(F.col("cvec"), F.col("embedding")).alias("c2")))
    assert joined.filter(F.abs(F.col("cosine") - F.round(F.col("c2"), 6)) > 1e-9).count() == 0


def test_partial_overlap_finds_shared_section(spark):
    """A doc that copies ~40 tokens of another doc into otherwise-new
    text must pair at CHUNK level even though whole-doc Jaccard stays
    below threshold."""
    from hackmd_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        partial_overlap_pairs,
    )

    d = load_table(spark, SF_CORRECT, "documents").limit(100)
    donor = d.filter(F.col("doc_id") == 0).collect()[0]
    section = " ".join(str(donor.text).split()[:40])
    filler = " ".join(f"zz{i} novel filler token" for i in range(40))
    frankendoc = [(4_000_000, section + " " + filler)]
    corpus = d.select("doc_id", "text").union(
        spark.createDataFrame(frankendoc, "doc_id long, text string"))

    whole = {(r.id_a, r.id_b)
             for r in minhash_lsh_pairs(corpus, jaccard_threshold=0.8).collect()}
    assert (0, 4_000_000) not in whole, "whole-doc Jaccard should be diluted"

    partial = {(r.doc_a, r.doc_b): r.n_matching_chunks
               for r in partial_overlap_pairs(corpus, jaccard_threshold=0.8).collect()}
    assert (0, 4_000_000) in partial, f"shared section not found: {partial}"


def test_semdedup_groups_planted_duplicates(spark):
    """SemDeDup contract: planted near-identical embeddings group into
    one cluster with exactly one keeper — the member with the LOWEST
    cosine to its cell centroid (keep-farthest; ties by min id) — and
    unpaired vectors are all kept."""
    import numpy as np

    from hackmd_data_pipeline_spark.operators.similarity import semdedup

    rng = np.random.default_rng(3)
    rows = []
    # 30 well-separated random vectors
    for i in range(30):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # planted dup group: ids 100..102 are tiny perturbations of row 0
    base = np.asarray(rows[0][1])
    for j, vid in enumerate([100, 101, 102]):
        v = base + rng.normal(scale=1e-3, size=16)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = semdedup(emb, n_clusters=4, threshold=0.95).collect()
    by_id = {r.vec_id: r for r in out}
    group = [by_id[i] for i in (0, 100, 101, 102)]
    assert len({r.cluster_id for r in group}) == 1, "dups must share a cluster"
    keepers = [r for r in group if r.is_kept]
    assert len(keepers) == 1, "exactly one keeper per dup group"
    # keep-farthest: the keeper has the minimum centroid cosine
    m = min(r.centroid_cosine for r in group)
    assert keepers[0].centroid_cosine == m
    # everything outside the planted group is kept
    for i in range(1, 30):
        assert by_id[i].is_kept


def test_semdedup_pinned_centroids_deterministic(spark):
    """The r06 injectable-quantizer path: pinned_centroids returns the
    k lowest-id vectors unit-normalized in id order, and semdedup with
    an explicit centroid array is fully deterministic — two runs give
    row-identical output, and cell assignment is the literal argmax of
    cosine against the injected rows (verified against numpy)."""
    import numpy as np

    from hackmd_data_pipeline_spark.operators.similarity import (
        pinned_centroids, semdedup)

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = pinned_centroids(emb, k=4)
    assert cents.shape == (4, 8)
    np.testing.assert_allclose(np.linalg.norm(cents, axis=1), 1.0, atol=1e-12)
    # row i of the array is the i-th lowest id, unit-normalized
    for i in range(4):
        v = np.asarray(rows[i][1])
        np.testing.assert_allclose(cents[i], v / np.linalg.norm(v), atol=1e-12)

    a = semdedup(emb, threshold=0.9, centroids=cents).collect()
    b = semdedup(emb, threshold=0.9, centroids=cents).collect()
    assert a == b, "pinned-centroid semdedup must be run-to-run identical"

    # cell = argmax cosine against the injected centroids, exactly
    x = np.asarray([r[1] for r in rows])
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    expect = (unit @ cents.T).argmax(axis=1)
    got = {r.vec_id: r.cell for r in a}
    for i in range(40):
        assert got[i] == expect[i]


def test_lsh_pairs_subset_of_exact_jaccard(spark):
    """LSH banding is a recall-lossy candidate filter over the SAME
    verify: every pair dedup_minhash_lsh reports must appear in the
    exact inverted-index ground truth (dedup_jaccard_verify's
    operator) with the IDENTICAL jaccard value — this pins the
    rows-only LSH query to the value-checked oracle sibling
    (VERDICT r03 item 1)."""
    from hackmd_data_pipeline_spark.operators.dedup import (
        jaccard_pairs_exact,
        minhash_lsh_pairs,
    )

    d = load_table(spark, SF_CORRECT, "documents")
    lsh = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_lsh_pairs(d, jaccard_threshold=0.3).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in jaccard_pairs_exact(d, jaccard_threshold=0.3).collect()}
    assert lsh, "planted dups in the synthetic corpus must produce pairs"
    missing = {k: v for k, v in lsh.items() if exact.get(k) != v}
    assert not missing, f"LSH pairs not confirmed by exact ground truth: {missing}"


def test_partial_overlap_lsh_subset_of_inverted(spark):
    """Same subset discipline at CHUNK level: the LSH variant of
    partial_overlap_pairs must report a subset of the inverted-index
    (oracled) variant's doc pairs, with max_jaccard agreeing on the
    intersection."""
    from hackmd_data_pipeline_spark.operators.dedup import partial_overlap_pairs

    d = load_table(spark, SF_CORRECT, "documents").limit(200)
    inv = {(r.doc_a, r.doc_b): r.max_jaccard
           for r in partial_overlap_pairs(d, jaccard_threshold=0.8).collect()}
    lsh = {(r.doc_a, r.doc_b): r.max_jaccard
           for r in partial_overlap_pairs(
               d, jaccard_threshold=0.8, method="lsh").collect()}
    assert set(lsh) <= set(inv), f"LSH-only pairs: {set(lsh) - set(inv)}"
    assert all(inv[k] >= v for k, v in lsh.items())


def test_recall_eval_degenerate_zero_pair_corpus(spark, tmp_path):
    """Round-4 ADVICE: on a corpus with ZERO exact pairs the Spark
    builder used to emit NULL n_exact (sum over an empty join) while
    the oracle's COUNT(*) emitted 0 with a divide-by-zero ratio. Both
    sides now agree: counts coalesce to 0, ratios are NULL."""
    import duckdb

    from hackmd_data_pipeline_spark.plans import REGISTRY

    rows = [(i, f"utterly unique prose number {i} " * 20 + str(i * 37),
             "en", "unit", 400) for i in range(6)]
    d = local_df(
        spark, rows, "doc_id long, text string, lang string, source string, "
        "n_chars long")
    d.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))

    q = REGISTRY["dedup_lsh_recall_eval"]
    got = q.builder(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_exact, r.n_lsh, r.n_common) == (0, 0, 0)
    assert r.lsh_recall is None and r.exact_coverage is None

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'")
    orows = con.sql(q.oracle).fetchall()
    con.close()
    assert orows == [(0, 0, 0, None, None)]


def test_rebalance_null_lang_group_matches_oracle(spark, tmp_path):
    """Round-4 ADVICE: a NULL-lang group must survive to the report on
    BOTH engines (Spark used to emit it, the oracle's inner equi-join
    used to drop it). Build a corpus with a NULL-lang stratum and
    assert builder == oracle row-for-row."""
    import duckdb

    from hackmd_data_pipeline_spark.plans import REGISTRY

    rows = ([(i, f"text {i}", "en", "unit", 10) for i in range(40)]
            + [(100 + i, f"null-lang text {i}", None, "unit", 10)
               for i in range(15)]
            + [(200 + i, f"de text {i}", "de", "unit", 10)
               for i in range(5)])
    d = local_df(
        spark, rows, "doc_id long, text string, lang string, source string, "
        "n_chars long")
    d.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))

    q = REGISTRY["docs_rebalance_langs"]
    got = [(r.lang, r.n_before, r.n_after)
           for r in q.builder(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'")
    orows = con.sql(q.oracle).fetchall()
    con.close()
    assert got == orows, (got, orows)
    langs = [g[0] for g in got]
    assert None in langs, "NULL-lang group must be reported"
    null_row = next(g for g in got if g[0] is None)
    assert null_row[1] == 15 and 0 < null_row[2] <= 15


def test_ivfpq_recall_and_refined_scores(spark):
    """IVF-PQ with the default (16,6,refine=4) geometry must match
    plain IVF's recall (quantization costs nothing after the exact
    refine), and every returned cosine must equal the exact value —
    refinement rescoring reads the TRUE vectors."""
    from hackmd_data_pipeline_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=10)
    approx = ivfpq_topk(emb, queries, k=10)

    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF-PQ recall {recall:.2f} below contract"

    joined = (approx.withColumnRenamed("cosine", "c_approx")
              .join(exact.withColumnRenamed("cosine", "c_exact"),
                    ["query_id", "vec_id"]))
    assert joined.filter(
        F.abs(F.col("c_approx") - F.col("c_exact")) > 1e-9).count() == 0


def test_ivfpq_adc_mode_and_code_compression(spark):
    """refine=0 returns the raw ADC ranking (approx_cosine), whose
    candidate scan never touches the float column; codebooks are
    seed-deterministic and codes fit ``nbits`` bits."""
    import numpy as np

    from hackmd_data_pipeline_spark.operators.similarity import (
        _bounded_sample,
        _train_pq_books,
        _train_quantizer,
        ivfpq_topk,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    adc = ivfpq_topk(emb, queries, k=10, refine=0)
    assert "approx_cosine" in adc.columns
    rows = adc.collect()
    assert len(rows) == 30 and all(r["rank"] <= 10 for r in rows)

    sample = _bounded_sample(emb, "embedding")
    cents = _train_quantizer(emb, 16, "embedding", sample=sample)
    b1 = _train_pq_books(sample, cents, 16, 6, seed=42)
    b2 = _train_pq_books(sample, cents, 16, 6, seed=42)
    assert all(np.array_equal(x, y) for x, y in zip(b1, b2))
    assert all(b.shape == (64, 4) for b in b1)  # 2^6 codewords, dim/16


def test_ivfpq_finds_planted_neighbors(spark):
    """Planted near-duplicates (cosine > 0.99) must surface as the top
    hit through the full code path: encode -> probe -> ADC -> refine."""
    import numpy as np

    from hackmd_data_pipeline_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.limit(3).collect()
    rng = np.random.default_rng(7)
    qrows = [(int(r.vec_id) + 5_000_000,
              [float(x) + float(e) for x, e in
               zip(r.embedding, rng.normal(0, 1e-3, len(r.embedding)))])
             for r in base]
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>")
    hits = ivfpq_topk(emb, queries, k=10)
    top1 = {r.query_id: (r.vec_id, r.cosine)
            for r in hits.collect() if r["rank"] == 1}
    for r in base:
        planted = int(r.vec_id) + 5_000_000
        assert planted in top1
        assert top1[planted][0] == r.vec_id
        assert top1[planted][1] > 0.99


def test_ivfpq_persisted_index_prunes_and_matches(spark, tmp_path):
    """The persisted PQ index: (1) search results == the in-session
    ivfpq_topk (same seed -> same quantizer/codebooks/decisions);
    (2) the data scan is partition-pruned to the probed cells;
    (3) the index stores codes only (no float vector column);
    (4) refine demands the source corpus."""
    import pytest as _pytest

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_search_index,
        ivfpq_topk,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dest = str(tmp_path / "pqidx")
    build_ivfpq_index(emb, dest)

    got = ivfpq_search_index(spark, dest, queries, corpus=emb, k=10)
    want = ivfpq_topk(emb, queries, k=10)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    data_cols = spark.read.parquet(dest + "/data").columns
    assert "embedding" not in data_cols and "codes" in data_cols

    import re
    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*cell[^\]]*)\]", plan)
    assert m, f"no partition filter on cell in scan:\n{plan}"

    with _pytest.raises(ValueError, match="refine"):
        ivfpq_search_index(spark, dest, queries, corpus=None, k=10)


def test_temperature_sample_flattens_language_skew(spark):
    """Temperature sampling contracts beyond the value gate: the
    rarest language keeps everything (rate 1.0), every rate is in
    (0, 1], and the post-sample distribution is strictly FLATTER than
    the input (max/min share ratio shrinks) while preserving rank
    order of shares."""
    from hackmd_data_pipeline_spark.plans import REGISTRY

    rows = (REGISTRY["docs_temperature_sample"]
            .builder(spark, SF_CORRECT).collect())
    by_n = sorted(rows, key=lambda r: r.n_docs)
    assert by_n[0].rate == 1.0
    assert all(0 < r.rate <= 1.0 for r in rows)
    assert all(r.n_kept <= r.n_docs for r in rows)
    before = [r.share_before for r in rows]
    after = [r.share_after for r in rows]
    assert max(after) / min(after) < max(before) / min(before)


def test_leakage_safe_split_never_splits_duplicates(spark):
    """The leakage contract itself, on a corpus with PLANTED exact
    duplicates whose ids hash to different doc-level splits: every
    duplicate group lands in exactly one split, and the split
    distribution over clusters stays roughly 8/1/1."""
    from hackmd_data_pipeline_spark.plans import REGISTRY

    base = load_table(spark, SF_CORRECT, "documents")
    clones = (base.limit(40)
              .select((F.col("doc_id") + 7_777_777).alias("doc_id"),
                      "text", "lang", "source", "n_chars"))
    import tempfile
    with tempfile.TemporaryDirectory() as tmp:
        base.unionByName(clones).write.parquet(tmp + "/documents.parquet")
        out = REGISTRY["docs_leakage_safe_split"].builder(spark, tmp)
        per_cluster = out.groupBy("cluster_id").agg(
            F.countDistinct("split").alias("n_splits"),
            F.count("*").alias("n_members"))
        assert per_cluster.filter(F.col("n_splits") != 1).count() == 0
        assert per_cluster.filter(F.col("n_members") >= 2).count() >= 40
        shares = dict((r.split, r.n) for r in
                      out.groupBy("split").agg(F.count("*").alias("n")).collect())
        assert shares["train"] > shares.get("val", 0)
        assert shares["train"] > shares.get("test", 0)


def test_brute_force_blocked_matches_fold_form(spark):
    """The matmul-blocked exact top-k (r08) must produce the same
    per-query top-k ID SETS as the per-pair fold form, and cosines
    within float-reorder tolerance, on the gate data with a large
    query side."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        brute_force_topk, brute_force_topk_blocked)
    from hackmd_data_pipeline_spark.tables import load_table

    from .conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    queries = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    fold = brute_force_topk(corpus, queries, k=10).collect()
    blocked = brute_force_topk_blocked(corpus, queries, k=10).collect()

    def sets(rows):
        out: dict = {}
        for r in rows:
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    assert sets(fold) == sets(blocked)
    cos_f = {(r.query_id, r.vec_id): r.cosine for r in fold}
    assert all(abs(cos_f[(r.query_id, r.vec_id)] - r.cosine) < 1e-6
               for r in blocked)


def test_ivf_upsert_equals_oneshot_build_same_centroids(spark, tmp_path):
    """The incremental-index contract (r08, the update_clusters
    contract applied to ANN): searching base-index ∪ upserted delta
    must return EXACTLY what a one-shot index built over base ∪ batch
    under the SAME quantizer returns — cell assignment is
    generation-independent (`_cell_assigner` shared), so the only
    thing an upsert may change is WHERE rows live, never what a
    search sees."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, ivf_search_index, load_ivf_centroids,
        upsert_ivf_index)
    from hackmd_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    late = emb.filter(F.col("vec_id") % 4 == 3)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")

    grown = str(tmp_path / "grown")
    build_ivf_index(base, grown, nlist=8, seed=42)
    upsert_ivf_index(late, grown, epoch_id=0)
    got = ivf_search_index(spark, grown, queries, k=10, nprobe=4)

    oneshot = str(tmp_path / "oneshot")
    build_ivf_index(base.unionByName(late), oneshot, nlist=8,
                    centroids=load_ivf_centroids(spark, grown))
    want = ivf_search_index(spark, oneshot, queries, k=10, nprobe=4)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_upsert_replay_and_crashed_delta_invisible(spark, tmp_path):
    """Effectively-once upserts: a REPLAYED epoch overwrites itself
    (no duplicate rows in the searchable set), and a crashed partial
    delta (no _SUCCESS) is invisible to both epoch listing and
    search until its replay commits."""
    import os

    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, ivf_delta_epochs, ivf_index_data,
        upsert_ivf_index)
    from hackmd_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    late = emb.filter(F.col("vec_id") % 4 == 3)

    idx = str(tmp_path / "idx")
    build_ivf_index(base, idx, nlist=8, seed=42)
    upsert_ivf_index(late, idx, epoch_id=0)
    upsert_ivf_index(late, idx, epoch_id=0)  # replay
    ids = [r.vec_id for r in ivf_index_data(spark, idx).select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == base.count() + late.count()

    # a crashed epoch: files present, no _SUCCESS commit marker
    crashed = f"{idx}/deltas/epoch=1/cell=0"
    os.makedirs(crashed)
    with open(f"{crashed}/part-00000.parquet", "wb") as f:
        f.write(b"partial")
    assert ivf_delta_epochs(spark, idx) == [0]


def test_ivf_compact_folds_deltas_and_stays_searchable(spark, tmp_path):
    """compact_ivf_index folds base + deltas into a fresh
    single-generation index carrying every row exactly once, with a
    RETRAINED quantizer; an upserted vector queried by its own
    embedding must come back at rank 1 with cosine ~1 both before and
    after compaction (the searchable-set-staleness probe)."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, compact_ivf_index, ivf_delta_epochs,
        ivf_index_data, ivf_search_index, upsert_ivf_index)
    from hackmd_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    late = emb.filter(F.col("vec_id") % 4 == 3)
    probe = (late.orderBy("vec_id").limit(1)
             .select(F.lit(-1).alias("query_id"), "embedding"))
    target = late.orderBy("vec_id").first().vec_id

    idx = str(tmp_path / "idx")
    build_ivf_index(base, idx, nlist=8, seed=42)
    upsert_ivf_index(late, idx, epoch_id=0)
    before = ivf_search_index(spark, idx, probe, k=3, nprobe=2).collect()
    assert before[0].vec_id == target and before[0].cosine > 0.999999

    folded = str(tmp_path / "folded")
    compact_ivf_index(spark, idx, folded)
    ids = sorted(r.vec_id for r in
                 ivf_index_data(spark, folded).select("vec_id").collect())
    want = sorted(r.vec_id for r in
                  base.select("vec_id").unionByName(late.select("vec_id")).collect())
    assert ids == want
    assert ivf_delta_epochs(spark, folded) == []
    after = ivf_search_index(spark, folded, probe, k=3, nprobe=2).collect()
    assert after[0].vec_id == target and after[0].cosine > 0.999999


def test_ivfpq_upsert_codes_generation_independent(spark, tmp_path):
    """The PQ twin: an upserted vector's code row must be IDENTICAL to
    the code row a one-shot build would have written (same pinned
    centroids + codebooks, same encode kernel), and a planted
    near-duplicate of an upserted vector must surface it at rank 1
    through the refined search."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        _load_codebooks, _pq_encoded, build_ivfpq_index,
        ivfpq_search_index, load_ivf_centroids, upsert_ivfpq_index)
    from hackmd_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    late = emb.filter(F.col("vec_id") % 4 == 3)

    idx = str(tmp_path / "idx")
    build_ivfpq_index(base, idx, nlist=8)
    upsert_ivfpq_index(late, idx, epoch_id=0)

    cents = load_ivf_centroids(spark, idx)
    books = _load_codebooks(spark, idx)
    want = {r.vec_id: (r.cell, tuple(r.codes)) for r in
            _pq_encoded(late, cents, books, "vec_id", "embedding").collect()}
    got = {r.vec_id: (int(r.cell), tuple(r.codes)) for r in
           spark.read.parquet(idx + "/deltas/epoch=0").collect()}
    assert got == want

    probe = (late.orderBy("vec_id").limit(1)
             .select(F.lit(-1).alias("query_id"), "embedding"))
    target = late.orderBy("vec_id").first().vec_id
    corpus = base.unionByName(late)
    hit = ivfpq_search_index(spark, idx, probe, corpus=corpus, k=3,
                             nprobe=2, refine=4).collect()
    assert hit[0].vec_id == target and hit[0].cosine > 0.999999


def test_ivfpq_upsert_republishes_manifest(spark, tmp_path):
    """r10 ADVICE (medium): a PQ root that acquired a generation
    manifest (here via remove_vectors) resolves generations THROUGH
    the manifest — so an upsert_ivfpq_index that failed to republish
    would leave its committed epoch invisible to every search, with
    no error. Pin the committer contract: after the upsert, the epoch
    is manifest-resolved and the upserted vector is retrievable."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivfpq_index, ivf_delta_epochs, ivfpq_search_index,
        remove_vectors, upsert_ivfpq_index)
    from hackmd_data_pipeline_spark.sources.fs import pointer_current
    from hackmd_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    late = emb.filter(F.col("vec_id") % 4 == 3)

    idx = str(tmp_path / "idx")
    build_ivfpq_index(base, idx, nlist=8)
    # acquire a manifest BEFORE the upsert (the hazard precondition)
    victim = base.orderBy("vec_id").first().vec_id
    remove_vectors(spark.createDataFrame([(victim,)], "id long"), idx)
    assert pointer_current(spark, idx + "/_manifest") is not None

    upsert_ivfpq_index(late, idx, epoch_id=0)
    # the epoch must resolve through the (republished) manifest ...
    assert ivf_delta_epochs(spark, idx) == [0]
    # ... and the upserted vector must be retrievable at rank 1
    target = late.orderBy("vec_id").first().vec_id
    probe = (late.orderBy("vec_id").limit(1)
             .select(F.lit(-1).alias("query_id"), "embedding"))
    corpus = base.unionByName(late)
    hit = ivfpq_search_index(spark, idx, probe, corpus=corpus, k=3,
                             nprobe=8, refine=4).collect()
    assert hit[0].vec_id == target and hit[0].cosine > 0.999999


def test_ivf_remove_vectors_excludes_and_compacts(spark, tmp_path):
    """Right-to-be-forgotten on the vector index (r08): after
    remove_vectors, a deleted vector — base-resident or
    delta-resident — is never retrievable (a probe of its own
    embedding returns a neighbor instead), and compaction drops its
    rows physically into a tombstone-free fresh index."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, compact_ivf_index, ivf_index_data,
        ivf_search_index, ivf_tombstone_seqs, remove_vectors,
        upsert_ivf_index)
    from hackmd_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    late = emb.filter(F.col("vec_id") % 4 == 3)
    idx = str(tmp_path / "idx")
    build_ivf_index(base, idx, nlist=8, seed=42)
    upsert_ivf_index(late, idx, epoch_id=0)
    n_all = ivf_index_data(spark, idx).count()

    base_victim = base.orderBy("vec_id").first().vec_id
    delta_victim = late.orderBy("vec_id").first().vec_id
    n_dead = remove_vectors(
        spark.createDataFrame([(base_victim,), (delta_victim,)], "id long"),
        idx)
    assert n_dead == 2
    assert ivf_index_data(spark, idx).count() == n_all - 2

    for victim in (base_victim, delta_victim):
        probe = (emb.filter(F.col("vec_id") == victim)
                 .select(F.lit(-1).alias("query_id"), "embedding"))
        got = ivf_search_index(spark, idx, probe, k=3, nprobe=8).collect()
        assert victim not in {r.vec_id for r in got}

    folded = str(tmp_path / "folded")
    compact_ivf_index(spark, idx, folded)
    assert ivf_tombstone_seqs(spark, folded) == []
    ids = {r.vec_id for r in
           spark.read.parquet(folded + "/data").select("vec_id").collect()}
    assert base_victim not in ids and delta_victim not in ids
    assert len(ids) == n_all - 2


def test_quantizer_drift_flags_skewed_upserts(spark, tmp_path):
    """The drift diagnostic: a delta drawn from the base distribution
    scores low; a degenerate delta (every vector a copy of one point)
    funnels into one cell and scores near the 2.0 L1 ceiling with a
    ~1.0 hottest-cell share — the compaction-due signal."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, quantizer_drift, upsert_ivf_index)
    from hackmd_data_pipeline_spark.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    idx = str(tmp_path / "idx")
    build_ivf_index(base, idx, nlist=8, seed=42)

    assert quantizer_drift(spark, idx)["l1_drift"] == 0.0  # no deltas

    same_dist = emb.filter(F.col("vec_id") % 4 == 3)
    upsert_ivf_index(same_dist, idx, epoch_id=0)
    low = quantizer_drift(spark, idx)
    assert low["delta_rows"] == same_dist.count()
    assert low["l1_drift"] < 0.5, low

    one = emb.filter(F.col("vec_id") == 1).select("embedding").first()
    skew = spark.range(5_000_000, 5_000_200).select(
        F.col("id").alias("vec_id"),
        F.lit(one.embedding).alias("embedding"))
    upsert_ivf_index(skew, idx, epoch_id=1)
    high = quantizer_drift(spark, idx)
    assert high["l1_drift"] > low["l1_drift"]
    assert high["max_delta_cell_share"] > 0.5, high


def test_semdedup_from_index_equals_in_session(spark, tmp_path):
    """SemDeDup through the persisted IVF index (r09, VERDICT item 3)
    must equal the in-session operator under the SAME quantizer —
    cell assignment, centroid cosine, pair groups, keep-farthest —
    and must see upserted vectors while excluding tombstoned ones."""
    import numpy as np

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        pinned_centroids,
        remove_vectors,
        semdedup,
        semdedup_from_index,
        upsert_ivf_index,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    # planted dup pair so is_kept has real discrimination
    base = np.asarray(rows[0][1])
    rows.append((100, [float(x) for x in base + 1e-4]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = pinned_centroids(emb, k=4)
    idx = str(tmp_path / "idx")
    build_ivf_index(emb, idx, nlist=4, centroids=cents)

    via_index = semdedup_from_index(spark, idx, threshold=0.9).collect()
    in_session = semdedup(emb, threshold=0.9, centroids=cents).collect()
    assert via_index == in_session

    # upserted vectors join the semantic-dedup view...
    extra = spark.createDataFrame(
        [(200, [float(x) for x in base - 1e-4])],
        "vec_id long, embedding array<double>")
    upsert_ivf_index(extra, idx, epoch_id=0)
    grown = {r.vec_id: r for r in
             semdedup_from_index(spark, idx, threshold=0.9).collect()}
    assert 200 in grown
    assert grown[200].cluster_id == grown[0].cluster_id == grown[100].cluster_id
    assert sum(grown[i].is_kept for i in (0, 100, 200)) == 1

    # ...and tombstoned ones leave it
    remove_vectors(spark.createDataFrame([(100,)], "vec_id long"), idx)
    pruned = {r.vec_id for r in
              semdedup_from_index(spark, idx, threshold=0.9).collect()}
    assert 100 not in pruned and 200 in pruned


def test_in_session_ann_plans_have_no_query_centroid_nested_loop(spark):
    """ivf_topk and ivfpq_topk probe through the persisted path's
    ``_probe_topk`` matmul: no query x centroid cross join may survive
    in their plans (neither a BroadcastNestedLoopJoin nor a
    CartesianProduct, nor a logical cross join)."""
    from hackmd_data_pipeline_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    for df in (ivf_topk(emb, queries, k=10, nlist=16, nprobe=6),
               ivfpq_topk(emb, queries, k=10, nprobe=6),
               ivfpq_topk(emb, queries, k=10, nprobe=6, refine=0)):
        qe = df._jdf.queryExecution()
        physical = qe.executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in physical, physical
        assert "CartesianProduct" not in physical, physical
        assert "Cross" not in qe.optimizedPlan().toString()


def test_zero_and_tiny_norm_vectors_placed_alike(spark, tmp_path):
    """One placement kernel: a zero-norm vector and a norm-1e-13
    vector land in the same cell whether placed by build_ivf_index,
    build_ivfpq_index or semdedup (same corpus + seed -> same trained
    quantizer), and scaling a vector down to norm 1e-13 does not move
    it out of its cell."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        semdedup,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    src = emb.filter(F.col("vec_id") == 5).first().embedding
    norm = sum(float(x) ** 2 for x in src) ** 0.5
    odd = spark.createDataFrame(
        [(10 ** 6, [0.0] * len(src)),
         (10 ** 6 + 1, [float(x) * 1e-13 / norm for x in src])],
        emb.schema)
    corpus = emb.unionByName(odd)
    ids = (5, 10 ** 6, 10 ** 6 + 1)

    def cells(df):
        return {r.vec_id: r.cell for r in
                df.filter(F.col("vec_id").isin(*ids)).select("vec_id", "cell").collect()}

    ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "pq")
    build_ivf_index(corpus, ivf, nlist=16, seed=42)
    build_ivfpq_index(corpus, pq, nlist=16, seed=42)
    by_ivf = cells(spark.read.parquet(ivf + "/data"))
    by_pq = cells(spark.read.parquet(pq + "/data"))
    by_sem = cells(semdedup(corpus, n_clusters=16, seed=42))
    assert by_ivf == by_pq == by_sem, (by_ivf, by_pq, by_sem)
    assert by_ivf[10 ** 6 + 1] == by_ivf[5]


def test_ivf_index_time_travel(spark, tmp_path):
    """as_of_epoch / as_of_seq reproduce the exact searchable set
    after any past upsert or deletion (r09, VERDICT item 4 — the
    load_clusters(as_of_seq) twin): -1 = base-only / no deletions,
    None = latest, and the two timelines compose."""
    import numpy as np

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_data,
        remove_vectors,
        upsert_ivf_index,
    )

    rng = np.random.default_rng(5)

    def vecs(lo, hi):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=8)])
             for i in range(lo, hi)],
            "vec_id long, embedding array<double>")

    idx = str(tmp_path / "idx")
    build_ivf_index(vecs(0, 20), idx, nlist=4)          # base: 0..19
    upsert_ivf_index(vecs(20, 30), idx, epoch_id=0)     # epoch 0: 20..29
    remove_vectors(spark.createDataFrame([(3,)], "vec_id long"), idx)  # seq 0
    upsert_ivf_index(vecs(30, 35), idx, epoch_id=1)     # epoch 1: 30..34
    remove_vectors(spark.createDataFrame([(25,)], "vec_id long"), idx)  # seq 1

    def ids(**kw):
        return {r.vec_id for r in
                ivf_index_data(spark, idx, **kw).select("vec_id").collect()}

    full = set(range(35)) - {3, 25}
    assert ids() == full                                         # latest
    assert ids(as_of_epoch=-1, as_of_seq=-1) == set(range(20))   # at build
    assert ids(as_of_epoch=0, as_of_seq=-1) == set(range(30))    # after upsert 0
    assert ids(as_of_epoch=0, as_of_seq=0) == set(range(30)) - {3}
    assert ids(as_of_epoch=1, as_of_seq=0) == set(range(35)) - {3}
    assert ids(as_of_epoch=1, as_of_seq=1) == full
    # timelines are independent: deletions can be replayed against an
    # older index state and vice versa
    assert ids(as_of_epoch=-1, as_of_seq=None) == set(range(20)) - {3, 25}
    assert ids(as_of_epoch=None, as_of_seq=0) == set(range(35)) - {3}


def test_gen_manifest_resolution_and_size_gated_tombstones(spark, tmp_path, monkeypatch):
    """r09 VERDICT items 5+6: (a) after any commit through the API the
    generation MANIFEST is the visibility source of truth — one read,
    no per-epoch _SUCCESS probes — and a generation dir landed around
    the API (no manifest publish) stays invisible until the next
    commit re-derives; (b) the tombstone anti-join broadcasts only
    while the tombstone bytes stay under the gate — over it, the plan
    must not carry OUR unconditional broadcast hint."""
    import os

    import hackmd_data_pipeline_spark.operators.similarity as simmod
    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, ivf_delta_epochs, ivf_index_data,
        ivf_tombstone_seqs, publish_gen_manifest, remove_vectors,
        upsert_ivf_index)
    from hackmd_data_pipeline_spark.sources.fs import pointer_current

    emb = load_table(spark, SF_CORRECT, "embeddings")
    idx = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") % 4 == 1), idx, nlist=4)
    upsert_ivf_index(emb.filter(F.col("vec_id") % 4 == 2), idx, epoch_id=0)
    remove_vectors(emb.filter(F.col("vec_id") % 8 == 1).select("vec_id"), idx)

    # the manifest exists and resolves both timelines
    assert pointer_current(spark, idx + "/_manifest") is not None
    assert ivf_delta_epochs(spark, idx) == [0]
    assert ivf_tombstone_seqs(spark, idx) == [0]

    # a committed-looking epoch written AROUND the API is invisible
    # until a commit republishes the manifest
    side = emb.filter(F.col("vec_id") % 4 == 3)
    (side.limit(5).select("vec_id", "embedding")
     .withColumn("cell", F.lit(0)).withColumn("_cnorm", F.lit(1.0))
     .write.partitionBy("cell").mode("overwrite")
     .parquet(idx + "/deltas/epoch=7"))
    assert os.path.exists(idx + "/deltas/epoch=7/_SUCCESS")
    assert ivf_delta_epochs(spark, idx) == [0]
    publish_gen_manifest(spark, idx)
    assert ivf_delta_epochs(spark, idx) == [0, 7]

    # size gate: under the ceiling we HINT broadcast unconditionally;
    # over it the hint disappears and the strategy is the planner's
    # call (stats/AQE may still broadcast a genuinely tiny side —
    # the gate only retires OUR say-so on an unbounded set)
    plan_small = ivf_index_data(spark, idx)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan_small
    monkeypatch.setattr(simmod, "TOMBSTONE_BROADCAST_MAX_BYTES", 0)
    df_large = ivf_index_data(spark, idx)
    plan_large = df_large._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan_large
    # values identical either way: the gate changes strategy, not rows
    monkeypatch.setattr(simmod, "TOMBSTONE_BROADCAST_MAX_BYTES", 64 << 20)
    a = sorted(r.vec_id for r in ivf_index_data(spark, idx).select("vec_id").collect())
    monkeypatch.setattr(simmod, "TOMBSTONE_BROADCAST_MAX_BYTES", 0)
    b = sorted(r.vec_id for r in df_large.select("vec_id").collect())
    assert a == b


def test_probe_size_gate_distributed_query_path(spark, tmp_path, monkeypatch):
    """r10 VERDICT item 1 (the one 100x-scale hole): the persisted-
    index search paths must survive a query batch too large to
    broadcast. Under the probe byte ceiling, today's driver-local
    broadcast fast path; over it the probe stays DISTRIBUTED — no
    query-side broadcast hint anywhere in the plan, the pruning
    IN-list still lands (distinct-cell collect is nlist-bounded), and
    both IVF and IVF-PQ(+refine) searches return ROW-IDENTICAL results
    either side of the gate."""
    import hackmd_data_pipeline_spark.operators.similarity as simmod
    from hackmd_data_pipeline_spark.operators.similarity import (
        _resolve_probe, build_ivf_index, build_ivfpq_index,
        ivf_search_index, ivfpq_search_index, load_ivf_centroids,
        probe_cells)

    emb = load_table(spark, SF_CORRECT, "embeddings")
    stored = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    idx = str(tmp_path / "ivf")
    pqx = str(tmp_path / "pq")
    build_ivf_index(stored, idx, nlist=8)
    build_ivfpq_index(stored, pqx, nlist=8)

    small_ivf = [tuple(r) for r in
                 ivf_search_index(spark, idx, batch, k=5, nprobe=3).collect()]
    small_pq = [tuple(r) for r in
                ivfpq_search_index(spark, pqx, batch, corpus=stored, k=5,
                                   nprobe=3, refine=4).collect()]
    assert small_ivf and small_pq

    # the gate decision itself: bounded below the ceiling, distributed
    # above it, with the distributed cells matching the bounded ones
    cents = load_ivf_centroids(spark, idx)
    pr = probe_cells(batch, cents, 3, "query_id", "embedding")
    _, cells_b, bounded = _resolve_probe(pr, "query_id", cents.shape[1])
    assert bounded
    monkeypatch.setattr(simmod, "PROBE_BROADCAST_MAX_BYTES", 0)
    pr2 = probe_cells(batch, cents, 3, "query_id", "embedding")
    _, cells_d, bounded2 = _resolve_probe(pr2, "query_id", cents.shape[1])
    assert not bounded2 and cells_d == cells_b

    # plan posture over the ceiling: OUR unconditional query-side
    # broadcast hints must be gone (AQE/stats may still choose
    # broadcast at runtime — the gate retires the say-so, like the
    # tombstone gate)
    big_ivf_df = ivf_search_index(spark, idx, batch, k=5, nprobe=3)
    plan = big_ivf_df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan
    big_pq_df = ivfpq_search_index(spark, pqx, batch, corpus=stored, k=5,
                                   nprobe=3, refine=4)
    plan_pq = big_pq_df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan_pq

    # ... and under the ceiling the hint is present (fast path intact)
    monkeypatch.setattr(simmod, "PROBE_BROADCAST_MAX_BYTES", 64 << 20)
    plan_small = (ivf_search_index(spark, idx, batch, k=5, nprobe=3)
                  ._jdf.queryExecution().analyzed().toString())
    assert "ResolvedHint" in plan_small

    # result identity: the gate changes STRATEGY, never rows
    monkeypatch.setattr(simmod, "PROBE_BROADCAST_MAX_BYTES", 0)
    assert [tuple(r) for r in big_ivf_df.collect()] == small_ivf
    assert [tuple(r) for r in big_pq_df.collect()] == small_pq


def test_quantized_embedding_index_recall_delta(spark, tmp_path):
    """int8 embedding storage through the index stage (r10 VERDICT
    item 7): an IVF index built over DEQUANTIZED vectors
    (normalize_quantize -> dequantize, |per-component error| <= half a
    quantization step) must retrieve nearly the same neighbors as the
    float-built index — top-10 overlap >= 0.9 micro-averaged — and the
    q8 artifact must actually be smaller on disk than the float one."""
    import os

    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, dequantize, ivf_search_index, normalize_quantize)

    emb = load_table(spark, SF_CORRECT, "embeddings")
    stored = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")

    fdir = str(tmp_path / "f")
    qdir = str(tmp_path / "q")
    stored.write.parquet(fdir + "/emb")
    normalize_quantize(stored).write.parquet(qdir + "/emb")

    def tree_bytes(p):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(p) for f in fs)

    assert tree_bytes(qdir + "/emb") < tree_bytes(fdir + "/emb")

    build_ivf_index(spark.read.parquet(fdir + "/emb"), fdir + "/idx",
                    nlist=8)
    build_ivf_index(dequantize(spark.read.parquet(qdir + "/emb")),
                    qdir + "/idx", nlist=8)
    a = ivf_search_index(spark, fdir + "/idx", batch, k=10, nprobe=8)
    b = ivf_search_index(spark, qdir + "/idx", batch, k=10, nprobe=8)
    hit = (a.select("query_id", "vec_id")
           .join(b.select("query_id", "vec_id", F.lit(1).alias("h")),
                 ["query_id", "vec_id"], "left"))
    row = hit.agg(F.count("*").alias("n"),
                  F.sum(F.coalesce("h", F.lit(0))).alias("k")).collect()[0]
    assert row.n > 0 and row.k / row.n >= 0.9, (row.k, row.n)


def test_index_stage_quantized_artifact(spark, tmp_path):
    """CorpusPipeline(emb_quantize=True): the index stage stores the
    int8 artifact (qvec/scale/norm — no float vector column), the
    pointer-published index is searchable, and outputs() points at the
    q8 artifact."""
    from pyspark.sql import functions as F

    from hackmd_data_pipeline_spark.etl import CorpusPipeline
    from hackmd_data_pipeline_spark.operators.similarity import (
        ivf_search_index)
    from hackmd_data_pipeline_spark.sources.fs import pointer_current

    root = str(tmp_path / "root")
    docs = (load_table(spark, SF_CORRECT, "documents")
            .filter(F.length(F.trim("text")) > 0).limit(200))
    docs.write.parquet(root + "/corpus/annotated_documents.parquet")

    p = CorpusPipeline(spark, root, lambda *a, **k: [], ["cs.AI"],
                       emb_quantize=True, ann_nlist=4)
    rep = p._stage_index_embeddings()
    assert rep["bootstrapped"] is True

    art = p.outputs()["embeddings"]
    assert art.endswith("embeddings_q8.parquet")
    cols = set(spark.read.parquet(art).columns)
    assert cols == {"vec_id", "qvec", "scale", "norm"}

    idx = pointer_current(spark, p.outputs()["ann_pointer"])
    assert idx is not None
    probe = (spark.read.parquet(art).limit(1)
             .selectExpr("cast(-1 as long) as query_id",
                         "transform(qvec, x -> x * scale) as embedding"))
    got = ivf_search_index(spark, idx, probe, k=3, nprobe=4).collect()
    assert len(got) == 3


def test_load_ivf_centroids_cached_and_invalidated(spark, tmp_path):
    """The driver-side quantizer cache returns the identical array for
    an unchanged index and INVALIDATES when the centroids are
    rewritten in place (mtime_ns key); cached arrays are read-only."""
    import numpy as np
    import pytest

    from hackmd_data_pipeline_spark.operators.similarity import (
        build_ivf_index, load_ivf_centroids)

    emb = load_table(spark, SF_CORRECT, "embeddings")
    idx = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") % 4 == 1), idx, nlist=4)
    c1 = load_ivf_centroids(spark, idx)
    c2 = load_ivf_centroids(spark, idx)
    assert c1 is c2                      # cache hit
    with pytest.raises(ValueError):
        c1[0, 0] = 99.0                  # read-only

    import time
    time.sleep(0.01)
    build_ivf_index(emb.filter(F.col("vec_id") % 4 == 2), idx, nlist=4)
    c3 = load_ivf_centroids(spark, idx)
    assert c3 is not c1
    assert not np.array_equal(np.asarray(c1), np.asarray(c3))


def test_exact_topk_cache_provenance(spark, tmp_path):
    """r09 VERDICT item 2: the cached exact ground truth the kNN
    family reads must be row-for-row identical to a fresh
    brute_force_topk_blocked computation over the same slices —
    the cache amortizes eval arithmetic, never changes the gate."""
    from hackmd_data_pipeline_spark.operators.similarity import (
        brute_force_topk_blocked)
    from hackmd_data_pipeline_spark.plans.similarity import (
        _ensure_exact_topk)

    emb = load_table(spark, SF_CORRECT, "embeddings")
    stored = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")

    cached = _ensure_exact_topk(SF_CORRECT, "m4ne0", stored, batch, k=10)
    again = _ensure_exact_topk(SF_CORRECT, "m4ne0", stored, batch, k=10)
    fresh = brute_force_topk_blocked(stored, batch, k=10)
    want = sorted(map(tuple, fresh.collect()))
    assert sorted(map(tuple, cached.collect())) == want
    assert sorted(map(tuple, again.collect())) == want


def test_bounded_sample_driver_rows_bounded_when_many_partitions(
        spark, monkeypatch):
    """r11 VERDICT item 1: with nparts > sample_cap the per-partition
    head floors at 1 row, so a plain collect would pull O(nparts) rows
    to the driver and schedule every partition; the limit node must be
    retained there so the driver never holds more than ~cap rows. With
    few partitions the trimmed plain collect stays (< 2*cap bound)."""
    import hackmd_data_pipeline_spark.operators.similarity as simmod

    emb = load_table(spark, SF_CORRECT, "embeddings")

    # patch the CONCRETE DataFrame class (Spark 4: pyspark.sql.DataFrame
    # is the dispatching facade; instances are classic/connect subtypes)
    cls = type(emb)
    seen: list[int] = []
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        seen.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)

    # many partitions (nparts > cap): the limit path bounds the fetch
    many = emb.repartition(32)
    seen.clear()
    x = simmod._bounded_sample(many, "embedding", sample_cap=8)
    assert len(x) == 8
    assert max(seen) <= 8, f"driver collected {max(seen)} rows for cap 8"

    # few partitions (nparts <= cap): plain collect, bounded < 2*cap
    few = emb.repartition(4)
    seen.clear()
    y = simmod._bounded_sample(few, "embedding", sample_cap=8)
    assert len(y) == 8
    assert max(seen) < 16
