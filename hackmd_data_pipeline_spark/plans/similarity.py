"""Similarity / embedding / near-dup query registrations.

Oracle-checked where DuckDB can reproduce the float fold order
(list_zip + list_transform + list_reduce mirror Spark's zip_with +
aggregate left-fold exactly). Since r04 the MinHash-LSH / SimHash /
cluster-resolve family is ALSO fully oracled — banding decisions
included — via the bit-exact xxh64 restatement in
plans/oracle_helpers.py; only the ANN paths (IVF k-means, PCG64
hyperplanes) remain rows-only by nature.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import minhash_lsh_pairs, simhash_pairs
from ..operators.similarity import brute_force_topk
from ..operators.textstats import lang_id_confusion
from ..tables import load_table
from .registry import query

# DuckDB equivalent of operators.similarity.dot/cosine with identical
# left-fold float semantics. The norm carries the Spark kernels' zero
# guard (r06 ADVICE): an all-zero embedding row must yield cosine 0 on
# BOTH engines (dot is 0, so the clamp value itself never shows in the
# quotient), not NULL/NaN on the oracle side only.
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"
)
_NORM = (
    "GREATEST(sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "(acc, v) -> acc + v)), 1e-12)"
)


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < 3
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {_DOT.format(a='e.embedding', b='q.qvec')}
               / ({_NORM.format(a='e.embedding')} * {_NORM.format(a='q.qvec')}) AS c
        FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, ROUND(c, 6) AS cosine, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY c DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 3 query vectors — the exact-ANN
    baseline (north star). Query side broadcasts; corpus never
    shuffles; one window for top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return brute_force_topk(emb, queries, k=10)


@query(
    "sim_centroid_norms",
    oracle="""
    WITH dims AS (
        SELECT label, i.i AS dim, AVG(CAST(embedding[CAST(i.i AS INT)] AS DOUBLE)) AS c
        FROM embeddings CROSS JOIN (SELECT UNNEST(range(1, 65)) AS i) i
        GROUP BY label, i.i
    )
    SELECT label, ROUND(SUM(c * c), 4) AS centroid_sq_norm, COUNT(*) AS n_dims
    FROM dims
    GROUP BY label
    ORDER BY label
    """,
)
def sim_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (element-wise mean via posexplode)
    reduced to its squared norm — the 'cluster profile' shape used by
    IVF training. Two shuffles: (label, dim) then label."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim0", "x"))
        .groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(F.avg(F.col("x").cast("double")).alias("c"))
        .groupBy("label")
        .agg(F.round(F.sum(F.col("c") * F.col("c")), 4).alias("centroid_sq_norm"),
             F.count("*").alias("n_dims"))
        .orderBy("label")
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DOT.format(a='a.embedding', b='b.embedding')}
                 / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}), 6) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DOT.format(a='a.embedding', b='b.embedding')}
          / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}) >= 0.95
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (north star), blocked by label
    (the cluster id acts as the LSH bucket): ONE shuffle on the block
    key, then a vectorized per-block matmul kernel
    (operators/similarity.py::block_cosine_pairs) — never all-pairs
    across blocks, no interpreted per-pair folds."""
    from ..operators.similarity import block_cosine_pairs
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = block_cosine_pairs(emb, threshold=0.95)
    return (
        pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


# (r06: the rows-only ``sim_ann_ivf`` registry entry merged into its
# oracled twin ``sim_ann_ivf_recall`` below, which runs the identical
# ivf_topk pipeline — VERDICT r05 item 8. The raw-neighbor surface is
# ``operators/similarity.py::ivf_topk`` + the persisted-index pair
# build_ivf_index/ivf_search_index, contract-tested in
# tests/test_similarity.py.)


from .oracle_helpers import minhash_lsh_oracle  # noqa: E402


@query("dedup_minhash_lsh", oracle=minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) near-dup candidates verified by exact
    shingle Jaccard >= 0.3 (north star). Bucket-join candidate
    generation — sub-quadratic at scale.

    PROMOTED rows-only -> full oracle in r04, BANDING INCLUDED: the
    bit-exact DuckDB xxh64 restatement (plans/oracle_helpers.py) now
    covers variable-length strings, so the oracle reproduces the
    shingle hash, all 16 minhash remixes, the 4 chained band-bucket
    keys, the bucket-join candidate decisions, and the exact-Jaccard
    verify — the 'banding is engine-specific' rationale that kept the
    whole LSH family rows-only is retired."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, jaccard_threshold=0.3)


from .oracle_helpers import minhash_pairs_ctes  # noqa: E402


def _store_cache_path(sf_dir: str, kind: str) -> str:
    """Deterministic dedup-store location for one dataset: keyed by
    the resolved sf_dir AND the documents table's mtime, so a
    regenerated dataset never reuses a stale store, while repeated
    registry/bench runs over the SAME data reuse (kind="warm") or
    overwrite (kind="fresh") one bounded directory instead of
    accumulating mkdtemp droppings (r06 ADVICE).

    Wiped-per-run kinds ("fresh", "cycle") additionally carry the PID:
    a concurrent test suite + bench run must never rmtree/overwrite a
    store the other process is mid-read on (r07 ADVICE — the same race
    source_edges._edge_path keys by pid to avoid). Bounded: one dir per
    live process per dataset, rebuilt-in-place per run. The SHARED
    "warm" path stays pid-free (reuse across processes is its point)
    and is published via the atomic-rename guard in _ensure_index
    below instead."""
    import hashlib
    import os
    import tempfile

    docs = os.path.join(os.path.realpath(sf_dir), "documents.parquet")
    try:
        mtime = str(int(os.path.getmtime(docs)))
    except OSError:
        mtime = "0"
    key = hashlib.md5(f"{docs}|{mtime}".encode()).hexdigest()[:12]
    # every "warm"-family kind is SHARED/pid-free (r09 ADVICE: the
    # exact-match rule left spans_warm/warmfull/warmall per-process,
    # so the rename-publish guard was moot and cross-process reuse —
    # the stated point of a warm store — never happened, one /tmp dir
    # per live pid per dataset); wiped-per-run kinds keep the pid
    pid = "" if "warm" in kind else f"_p{os.getpid()}"
    return os.path.join(tempfile.gettempdir(),
                        f"graft_dedup_store_{key}_{kind}{pid}")


def _ensure_warm_store(stored, dest: str, **build_kwargs) -> None:
    """Build the shared warm dedup store ONCE per dataset through the
    one publish-by-rename body (``_ensure_index``; r07 ADVICE):
    readers only ever see an absent dir or a fully-committed one."""
    from ..operators.dedup_store import build_dedup_store

    stages = ("shingles", "signatures", "pairs", "clusters")
    need = stages[:stages.index(build_kwargs.get("through", "clusters")) + 1]
    _ensure_index(stored, dest,
                  lambda df, p: build_dedup_store(df, p, **build_kwargs), need)


@query(
    "dedup_incremental_store",
    oracle="WITH " + minhash_pairs_ctes(threshold=0.3) + """
    SELECT id_a, id_b, jaccard FROM mh_pairs
    WHERE id_a % 4 = 0 OR id_b % 4 = 0
    ORDER BY id_a, id_b
    """,
)
def dedup_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup against a PERSISTED store — the form
    a continuously-ingesting 100 TB pipeline actually runs: the
    existing corpus (doc_id % 4 != 0) is materialized once as the
    shingle/signature/pair/cluster artifact chain
    (operators/dedup_store.py::build_dedup_store), then the new batch
    (doc_id % 4 == 0) is deduped by joining ITS band buckets against
    stored ∪ new buckets — per-batch work is O(batch × collisions),
    independent of corpus size; the corpus text is never rescanned.

    Fully oracled, banding included: the candidate set of
    incremental_pairs is exactly the full-corpus LSH pair set
    restricted to pairs with >= 1 new side (new×(stored∪new) bucket
    join + least/greatest normalization), so the oracle is the
    value-checked xxh64 pair pipeline of dedup_minhash_lsh filtered by
    `id_a % 4 = 0 OR id_b % 4 = 0` — the store build, the parquet
    round-trip of shingles/signatures, and the incremental bucket join
    all sit on the hash-gated path.

    Bench note: this entry deliberately pays for a composed pipeline
    per run — a fresh store build (two written+committed parquet
    stages over 3/4 of the corpus) PLUS the batch dedup — the
    dedup_lsh_recall_eval pattern of benching the whole capability,
    not a warm fragment. In deployment the build amortizes across
    batches; dedup_incremental_batch below measures THAT path — the
    per-batch join against a warm store. Store placement (r06 ADVICE:
    mkdtemp-per-run accumulated unbounded /tmp parquet): a
    DETERMINISTIC per-(sf_dir, mtime) path, wiped before each rebuild,
    so at most one fresh store per dataset ever exists on disk."""
    from ..operators.dedup_store import build_dedup_store, incremental_pairs

    d = load_table(spark, sf_dir, "documents")
    stored = d.filter(F.col("doc_id") % 4 != 0)
    new_batch = d.filter(F.col("doc_id") % 4 == 0)
    dest = _store_cache_path(sf_dir, "fresh")
    shutil.rmtree(dest, ignore_errors=True)
    # incremental_pairs reads shingles+signatures only; the stored-vs-
    # stored pair/cluster stages are a different consumer's artifacts
    # (through= makes the per-refresh build cost exactly what the
    # incremental path needs — deepening later resumes via stage-skip)
    build_dedup_store(stored, dest, jaccard_threshold=0.3,
                      through="signatures")
    return (incremental_pairs(new_batch, dest, jaccard_threshold=0.3)
            .orderBy("id_a", "id_b"))


@query(
    "dedup_incremental_batch",
    oracle="WITH " + minhash_pairs_ctes(threshold=0.3) + """
    SELECT id_a, id_b, jaccard FROM mh_pairs
    WHERE id_a % 4 = 0 OR id_b % 4 = 0
    ORDER BY id_a, id_b
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AMORTIZED half of dedup_incremental_store (r06 VERDICT item
    4): dedup one batch against an already-built store, measuring what
    a continuously-ingesting deployment actually pays PER BATCH —
    O(batch x bucket-collisions), corpus never rescanned. The store
    lives at a deterministic per-(sf_dir, mtime) cache path and is
    built at most once per dataset (stage-skip via _SUCCESS markers:
    the first invocation pays the build, every later one — including
    the bench's min-of-2 — reads it back), so this entry's steady-
    state bench number is the flat per-batch join cost the store
    design exists to deliver, cleanly separated from the build cost
    dedup_incremental_store charges itself per run.

    Values are identical to dedup_incremental_store by construction
    (same batch split, same store parameters), so the same banded
    xxh64 oracle hash-gates the warm-read path: the parquet round-trip
    of shingles/signatures through the cached store is value-checked
    too. SCALE.md records the 1x/10x/100x fixed-batch sweep proving
    the per-batch cost is flat in corpus size."""
    from ..operators.dedup_store import incremental_pairs

    d = load_table(spark, sf_dir, "documents")
    stored = d.filter(F.col("doc_id") % 4 != 0)
    new_batch = d.filter(F.col("doc_id") % 4 == 0)
    dest = _store_cache_path(sf_dir, "warm")
    _ensure_warm_store(stored, dest, jaccard_threshold=0.3,
                       through="signatures")
    return (incremental_pairs(new_batch, dest, jaccard_threshold=0.3)
            .orderBy("id_a", "id_b"))


@query(
    "dedup_store_commit_cycle",
    oracle="WITH " + minhash_pairs_ctes(threshold=0.3) + """
    SELECT id_a, id_b, jaccard FROM mh_pairs
    WHERE id_a % 4 = 0 OR id_b % 4 = 0
    ORDER BY id_a, id_b
    """,
)
def dedup_store_commit_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full incremental-store LIFECYCLE, value-checked: the store
    is GROWN by epoch-keyed commits (operators/dedup_store.py::
    commit_batch — the exact code streaming/neardup.py's foreachBatch
    runs), not rebuilt: three epoch commits (% 4 == 1, 2, 3), then
    the % 4 == 0 batch is deduped against the grown store via
    incremental_pairs.

    The oracle is the same full-corpus banded xxh64 pair set filtered
    to >= 1 new side as dedup_incremental_store/_batch — but here a
    broken COMMIT is what would trip it: if epoch 1's shingles or
    signatures were missing, every (batch x committed-epoch-1) pair
    would be absent from the Spark side and the hash would mismatch.
    Together the three entries gate build-once (store), warm-read
    (batch), and grow-by-commit (this) — the whole persistence
    surface of continuous ingest. The cycle store is rebuilt per run
    at a wiped deterministic path, and the three epochs commit one
    after another, as a stream's micro-batches do (bench charges the
    honest composed cost; epochs are overwrite-idempotent, so a
    crashed run's replay converges)."""
    from ..operators.dedup_store import commit_batch, incremental_pairs

    d = load_table(spark, sf_dir, "documents")
    dest = _store_cache_path(sf_dir, "cycle")
    shutil.rmtree(dest, ignore_errors=True)
    for epoch, residue in enumerate((1, 2, 3)):
        # test-SF batches are ~1k docs: bound the per-epoch file count
        # (commit_batch docstring) so the cycle benches the lifecycle,
        # not 32-way file-commit overhead on kilobyte shards
        commit_batch(d.filter(F.col("doc_id") % 4 == residue), dest, epoch,
                     out_partitions=4)
    return (incremental_pairs(d.filter(F.col("doc_id") % 4 == 0), dest,
                              jaccard_threshold=0.3)
            .orderBy("id_a", "id_b"))


def _ensure_warm_span_store(stored, dest: str, k: int = 32) -> None:
    """Build the shared warm SPAN store once per dataset (publish-by-
    rename via ``_ensure_index``): the stored corpus lands as one
    epoch-0 span-hash generation."""
    from ..operators.dedup_store import commit_spans

    _ensure_index(stored, dest,
                  lambda df, p: commit_spans(df, p, epoch_id=0, k=k,
                                             out_partitions=8),
                  ("spans/epoch=0",))


from .oracle_helpers import exact_substring_oracle  # noqa: E402


@query(
    "dedup_incremental_spans",
    oracle=exact_substring_oracle(
        k=32, final_where="WHERE s.doc_id % 4 = 0"),
)
def dedup_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact-substring dedup against a persisted span
    store (r08 VERDICT item 2) — the Lee et al. verbatim-leakage audit
    in the form a continuously-ingesting pipeline runs: the stored
    corpus (doc_id % 4 != 0) is committed ONCE as distinct
    (id, span-hash) rows (operators/dedup_store.py::commit_spans, the
    commit_batch posture; warm per-dataset cache like
    dedup_incremental_batch); per batch (doc_id % 4 == 0),
    ``incremental_spans`` joins the batch's span hashes against the
    store — batch hashes broadcast, the store STREAMS through a
    semi-join and partial-aggregates to per-hash doc counts — and
    emits the per-new-doc duplicated-span report. Cross-epoch verbatim
    leakage is caught per batch; before this the span audit was a
    full-corpus rescan per run.

    Fully oracled: duplication semantics over store ∪ batch equal the
    full-corpus audit's by construction (distinct-doc counts
    partition by side), so the oracle is the docs_exact_substring_dedup
    SQL — span TEXT grouping, so a Spark-side xxh64 collision would
    trip the gate — with the REPORT filtered to the batch docs.
    SCALE.md records the fixed-batch 1x/10x/100x store sweep."""
    from ..operators.dedup_store import incremental_spans

    d = load_table(spark, sf_dir, "documents")
    stored = d.filter(F.col("doc_id") % 4 != 0)
    new_batch = d.filter(F.col("doc_id") % 4 == 0)
    dest = _store_cache_path(sf_dir, "spans_warm")
    _ensure_warm_span_store(stored, dest, k=32)
    return incremental_spans(new_batch, dest, k=32).orderBy("doc_id")


@query(
    "dedup_span_commit_cycle",
    oracle=exact_substring_oracle(
        k=32, final_where="WHERE s.doc_id % 4 = 0"),
)
def dedup_span_commit_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The span store's GROW-BY-COMMIT lifecycle, value-checked (the
    dedup_store_commit_cycle recipe applied to exact-substring dedup,
    r09): the store is grown by three epoch-keyed ``commit_spans``
    calls (% 4 == 1, 2, 3), then the % 4 == 0 batch's duplicated-span
    report is computed against the grown store via
    ``incremental_spans``.

    Same oracle as dedup_incremental_spans (output is epoch-structure
    independent by construction) — but here a broken COMMIT is what
    would trip it: a missing epoch's span hashes would silently erase
    every duplication witnessed only by that epoch's docs, shrinking
    dup counts and mismatching the hash. Together the two entries
    gate build-once (warm store) and grow-by-commit — the span
    store's whole persistence surface. Cycle store rebuilt per run at
    a wiped pid-keyed path, its epochs committed one after another as
    a stream's micro-batches are (honest composed cost; epoch
    overwrites make a crashed run's replay converge)."""
    from ..operators.dedup_store import commit_spans, incremental_spans

    d = load_table(spark, sf_dir, "documents")
    dest = _store_cache_path(sf_dir, "spancycle")
    shutil.rmtree(dest, ignore_errors=True)
    for epoch, residue in enumerate((1, 2, 3)):
        commit_spans(d.filter(F.col("doc_id") % 4 == residue), dest, epoch,
                     out_partitions=4)
    return (incremental_spans(d.filter(F.col("doc_id") % 4 == 0), dest)
            .orderBy("doc_id"))


@query(
    "dedup_span_store_delete",
    oracle=exact_substring_oracle(
        k=32, corpus_where="AND doc_id % 4 <> 1",
        final_where="WHERE s.doc_id % 4 = 0"),
)
def dedup_span_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten on the SPAN store, hash-gated (r09 — the
    dedup_store_delete twin for exact-substring dedup): the stored
    % 4 == 1 third is tombstoned via ``remove_docs`` (pairless store
    => tombstone-only deletion; the tombstones land in a per-run
    scratch ``delta_root`` overlay so the shared warm store the
    sibling entries read stays untouched), then the % 4 == 0 batch's
    duplicated-span report is recomputed — every span whose ONLY other
    witness was a deleted doc must flip back to unique.

    The oracle restates exactly that: the full span-text pipeline with
    the deleted docs removed from the WITNESS set (corpus_where) and
    the report filtered to batch docs. Deleting the % 4 == 1 third
    changes 3 / 3 / 27 report rows at sf0.001/0.01/0.1 (measured), so
    a tombstone filter that silently stopped applying would
    hash-mismatch at every scale. Per-run cost: one tombstone commit +
    the standard per-batch report — deletion costs what a read costs,
    no store rewrite (compact_store does the physical drop later)."""
    from ..operators.dedup_store import incremental_spans, remove_docs

    d = load_table(spark, sf_dir, "documents")
    stored = d.filter(F.col("doc_id") % 4 != 0)
    dest = _store_cache_path(sf_dir, "spans_warm")
    _ensure_warm_span_store(stored, dest, k=32)
    droot = _store_cache_path(sf_dir, "spans_del")
    shutil.rmtree(droot, ignore_errors=True)
    remove_docs(d.filter(F.col("doc_id") % 4 == 1).select("doc_id"),
                dest, delta_root=droot)
    return (incremental_spans(d.filter(F.col("doc_id") % 4 == 0), dest,
                              delta_root=droot)
            .orderBy("doc_id"))


from .oracle_helpers import minhash_cluster_oracle as _cluster_oracle  # noqa: E402


@query("dedup_cluster_update", oracle=_cluster_oracle(threshold=0.3))
def dedup_cluster_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL cluster maintenance over the persisted store (r07
    VERDICT item 1 — the one hole in the persistence story): the
    existing corpus (doc_id % 4 != 0) is materialized once as the full
    shingle/signature/pair/CLUSTER chain; the new batch (% 4 == 0) is
    deduped against it via the incremental bucket join; then
    operators/dedup_store.py::update_clusters merges those pairs into
    the persisted clusters stage by recomputing ONLY the affected
    subgraph (batch pairs + star edges of touched components) and
    overlaying the result — resolve_from_store is never stale, and the
    per-batch cost is ∝ touched components, not store size (SCALE.md
    records the 1x/10x/100x sweep).

    The oracle is the recursive-CTE transitive closure over the FULL
    corpus pair set at the same threshold — the incremental overlay
    resolution must equal the from-scratch clustering exactly (the
    contract incremental_pairs meets for candidate sets, extended to
    labels). The store is the shared rename-published warm artifact
    (first run pays the build, stage-skip makes later ones warm-read);
    the mutation lands in a pid-keyed WIPED overlay so the shared
    store is never written after publication."""
    from ..operators.dedup_store import (
        incremental_pairs,
        resolve_from_store,
        update_clusters,
    )

    d = load_table(spark, sf_dir, "documents")
    stored = d.filter(F.col("doc_id") % 4 != 0)
    new_batch = d.filter(F.col("doc_id") % 4 == 0)
    store = _store_cache_path(sf_dir, "warmfull")
    _ensure_warm_store(stored, store, jaccard_threshold=0.3,
                       through="clusters")
    overlay = _store_cache_path(sf_dir, "clup")
    shutil.rmtree(overlay, ignore_errors=True)
    pairs = incremental_pairs(new_batch, store, jaccard_threshold=0.3)
    update_clusters(pairs, store, epoch_id=0, delta_root=overlay)
    return resolve_from_store(spark, store, delta_root=overlay)


@query("dedup_store_delete",
       oracle=_cluster_oracle(threshold=0.3, exclude="{x} % 10 = 3"))
def dedup_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten DELETION from the persisted store with
    incremental cluster REPAIR (r08 — the missing half of the
    update_clusters lifecycle): docs with doc_id % 10 == 3 are removed
    via operators/dedup_store.py::remove_docs — tombstone delta, then
    min-label CC rerun on the touched components' SURVIVING true
    pairs only (deletes can SPLIT a component, so the merge path's
    star-edge compression is invalid here), landing as a retirement-
    aware overlay. resolve_from_store then serves verdicts in which
    the deleted docs influence nothing.

    The oracle is the from-scratch restatement: the recursive-CTE
    closure over the full-corpus LSH pair set at the same threshold
    MINUS every pair touching a deleted id — the incremental repair
    must equal it exactly (the update_clusters contract, extended to
    deletion). The full-corpus store is the shared rename-published
    warm artifact; the tombstone + overlay land in a pid-keyed WIPED
    scratch root, so the shared store is never written after
    publication. Cost ∝ touched components + tombstones, not store
    size."""
    from ..operators.dedup_store import remove_docs, resolve_from_store

    d = load_table(spark, sf_dir, "documents")
    store = _store_cache_path(sf_dir, "warmall")
    _ensure_warm_store(d, store, jaccard_threshold=0.3,
                       through="clusters")
    overlay = _store_cache_path(sf_dir, "del")
    shutil.rmtree(overlay, ignore_errors=True)
    dead = d.filter(F.col("doc_id") % 10 == 3).select("doc_id")
    remove_docs(dead, store, delta_root=overlay)
    return resolve_from_store(spark, store, delta_root=overlay)


from .oracle_helpers import simhash_oracle  # noqa: E402


@query("dedup_simhash", oracle=simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit) near-dup pairs within Hamming distance 3, with
    16-bit-block pigeonhole blocking (north star). 64-bit signatures
    keep block buckets thin as the corpus grows (the 32-bit form's
    256-value block keys were quadratic at 100x scale).

    PROMOTED rows-only -> full oracle in r04: per-token xxh64, the
    per-bit majority votes, the packed signature, the pigeonhole
    block-join decisions, and the Hamming verify are all restated
    bit-exactly in DuckDB (plans/oracle_helpers.py::simhash_oracle) —
    the packed-lane Spark vote kernel is now value-checked end to
    end."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=3)


_LANG_MARKER_ORACLE = {
    "en": r"\b(the|and|of|to|is|in|that|with|for)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|eine)\b",
    "es": r"\b(el|la|los|las|que|es|en|un|una|por)\b",
    "fr": r"\b(le|la|les|et|est|un|une|dans|pour|que)\b",
    "zh": r"[一-鿿]",
}
_LANG_STRUCTS = ",\n             ".join(
    "struct_pack(score := CAST(len(regexp_extract_all(lower(text), '{pat}')) AS DOUBLE)"
    " / GREATEST(len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')), 1), lang := '{lang}')"
    .format(pat=pat, lang=lang)
    for lang, pat in sorted(_LANG_MARKER_ORACLE.items()))


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT lang AS true_lang,
               list_max([
             {_LANG_STRUCTS}
               ]) AS best
        FROM documents
    )
    SELECT true_lang,
           CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS predicted_lang,
           COUNT(*) AS n
    FROM scored
    GROUP BY true_lang, predicted_lang
    ORDER BY true_lang, predicted_lang
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID confusion matrix against the labeled
    ``lang`` column (north star). The heuristic is pure regex/ratio
    arithmetic (operators/textstats.py), so DuckDB reproduces it
    exactly: same marker regexes, same token denominator, and the same
    argmax tie-break (struct comparison is lexicographic (score, lang)
    under both Spark's array_max and DuckDB's list_max) — promoted
    from rows-only to a full value-checked oracle in round 3."""
    d = load_table(spark, sf_dir, "documents")
    return lang_id_confusion(d)


@query(
    "emb_normalize_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw,
               SQRT(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        FROM embeddings
    ), u AS (
        SELECT vec_id, norm,
               list_transform(raw, x -> x / norm) AS unit
        FROM v
    ), s AS (
        SELECT vec_id, norm, unit,
               list_max(list_transform(unit, x -> ABS(x))) AS max_abs
        FROM u
    )
    SELECT vec_id,
           array_to_string(list_transform(unit,
                x -> CAST(FLOOR(x * (127.0 / max_abs) + 0.5) AS INT)), ',') AS qvec_csv,
           ROUND(max_abs / 127.0, 8) AS scale,
           ROUND(norm, 6)            AS norm
    FROM s
    ORDER BY vec_id
    """,
)
def emb_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store maintenance (north star): unit-L2 normalize +
    symmetric int8 quantization (operators/similarity.py::
    normalize_quantize). The quantizer is an explicit floor-formula so
    the DuckDB oracle value-checks every int8 element; zero shuffle,
    zero Python — a pure projection pass that shrinks a 100 TB float32
    embedding store 4x before ANN indexing.

    The int8 vector is emitted as a CSV string (element-exact) because
    the driver's pandas canonicalizer cannot hash list-typed cells."""
    from ..operators.similarity import normalize_quantize
    emb = load_table(spark, sf_dir, "embeddings")
    q = normalize_quantize(emb)
    return q.select(
        "vec_id",
        F.array_join(F.transform("qvec", lambda x: x.cast("string")), ",")
         .alias("qvec_csv"),
        "scale", "norm",
    ).orderBy("vec_id")


from .oracle_helpers import minhash_cluster_oracle  # noqa: E402


@query("dedup_cluster_resolve", oracle=minhash_cluster_oracle(threshold=0.5))
def dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup RESOLUTION: MinHash-LSH candidate pairs ->
    connected components (min-label propagation, operators/dedup.py::
    dedup_clusters) -> one canonical doc per duplicate cluster. This is
    the operator a training-data pipeline actually runs: pairs alone
    don't dedup a corpus; the cluster's min id becomes the keeper.
    PROMOTED rows-only -> full oracle in r04: with the LSH pair
    pipeline now bit-exactly expressible in DuckDB (banding included),
    the transitive closure over those pairs is a recursive CTE —
    every label this query assigns is value-checked. Convergence and
    cluster correctness also unit-tested on known clusters in
    tests/test_operators_unit.py.

    Plan shape: the pair pipeline is the FUSED minhash_lsh_pairs (one
    cached shingle pass feeding signatures + verify), with the output
    sort elided (sort=False) — connected components consumes pairs as
    a set, and dedup_clusters materializes them exactly once via its
    edge-list localCheckpoint before iterating."""
    from ..operators.dedup import dedup_clusters, minhash_lsh_pairs
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, jaccard_threshold=0.5, sort=False)
    return (
        dedup_clusters(pairs)
        .select(F.col("id").alias("doc_id"), "cluster_id",
                (F.col("id") == F.col("cluster_id")).alias("is_canonical"))
        .orderBy("doc_id")
    )


# (r06: the rows-only ``sim_ann_lsh`` registry entry merged into its
# oracled twin ``sim_ann_lsh_recall`` below — VERDICT r05 item 8. The
# raw-neighbor surface is ``operators/similarity.py::
# lsh_hyperplane_topk``; the planted-duplicate contract lives in
# tests/test_similarity.py::test_lsh_ann_finds_planted_neighbors.)


# the exact cosine top-10 per query, restated for the ANN recall evals
# (same arithmetic as the sim_cosine_topk oracle)
def _exact_topk_sql(where_q: str = "vec_id < 3",
                    where_c: str = "e.vec_id <> q.query_id") -> str:
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE {where_q}
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               {_DOT.format(a='e.embedding', b='q.qvec')}
               / ({_NORM.format(a='e.embedding')} * {_NORM.format(a='q.qvec')}) AS c
        FROM embeddings e JOIN q ON {where_c}
    ), topk AS (
        SELECT query_id, vec_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY c DESC, vec_id) AS rank
              FROM scored)
        WHERE rank <= 10
    )
    SELECT query_id,
           string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id)
               AS exact_top_ids,
           COUNT(*) AS n_exact,
           TRUE AS recall_ok
    FROM topk GROUP BY query_id ORDER BY query_id
"""


_EXACT_TOPK_SQL = _exact_topk_sql()


def _ann_recall_frame(exact: DataFrame, ann: DataFrame,
                      bound: float) -> DataFrame:
    """The recall-eval recipe (VERDICT r04 item 3), shaped like
    dedup_lsh_recall_eval: per-query rows carrying the EXACT top-k id
    set (deterministic, SQL-restatable) plus a boolean folding the ANN
    run's micro-averaged recall against ``bound`` — the oracle restates
    the exact columns and literal TRUE, so the ANN quality contract is
    driver-gated instead of pytest-only."""
    # both sides are k x |queries| rows (tiny by construction) but sit
    # atop heavy pipelines with unknown stats — broadcast the ANN side
    # so the hit join never plans a SortMerge over two 30-row frames
    hits = exact.select("query_id", "vec_id").join(
        F.broadcast(ann.select("query_id", "vec_id",
                               F.lit(1).alias("hit"))),
        ["query_id", "vec_id"], "left")
    per_q = hits.groupBy("query_id").agg(
        F.expr("array_join(transform(array_sort(collect_list(vec_id)),"
               " x -> cast(x as string)), ',')").alias("exact_top_ids"),
        F.count("*").alias("n_exact"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
    totals = per_q.agg(
        (F.sum("n_hit") / F.sum("n_exact")).alias("_recall"))
    return (per_q.crossJoin(F.broadcast(totals))
            .select("query_id", "exact_top_ids", "n_exact",
                    (F.col("_recall") >= F.lit(bound)).alias("recall_ok"))
            .orderBy("query_id"))


@query("sim_ann_ivf_recall", oracle=_EXACT_TOPK_SQL)
def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall vs the exact cosine baseline, as a driver-gated
    query (VERDICT r04 item 3 — the dedup_lsh_recall_eval recipe
    applied to ANN; r06 merged the rows-only ``sim_ann_ivf`` entry in,
    so this IS the IVF registry surface): per-query exact top-10 id
    sets plus a boolean asserting the seeded IVF run (nlist=16,
    nprobe=6) recovered >=55% of true neighbors micro-averaged.
    Measured recall on the synthetic embeddings (r06 nprobe sweep):
    0.733 (sf0.001) / 0.767 (sf0.01) / 0.567 (sf0.1) — deterministic
    (seed-pinned quantizer), so the r08 floor sits just under the
    0.567 measured minimum (r07 VERDICT item 7: the old 0.50 floor
    left a dead band a real recall regression could hide in; at
    10x/100x with cells ∝ N recall only rises — SCALE.md). Estimated neighbor lists stay engine-specific; only exact
    content + the contract boolean are emitted."""
    from ..operators.similarity import ivf_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=10)
    ann = ivf_topk(emb, queries, k=10, nlist=16, nprobe=6)
    return _ann_recall_frame(exact, ann, bound=0.55)


@query("sim_ann_lsh_recall", oracle=_EXACT_TOPK_SQL)
def sim_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN recall vs the exact baseline, driver-gated
    (VERDICT r04 item 3; r06 merged the rows-only ``sim_ann_lsh``
    entry in, so this IS the LSH-ANN registry surface). Caveat
    documented with the bound: LSH's real contract is the
    HIGH-similarity regime (the planted-duplicate test in
    tests/test_similarity.py); on this natural corpus (top neighbors
    near cosine 0.3-0.5) the 4-plane/12-table configuration measures
    0.833/0.800/0.767 recall at sf0.001/0.01/0.1 (r06 geometry sweep;
    the r05 8-table form bottomed at 0.50) — deterministic (seeded
    planes), so the r08 floor of 0.72 sits just under the 0.767
    measured minimum (r07 VERDICT item 7) and far above the ~2%
    chance level. Only exact content + the contract boolean
    are emitted."""
    from ..operators.similarity import lsh_hyperplane_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=10)
    ann = lsh_hyperplane_topk(emb, queries, k=10, n_planes=4, n_tables=12)
    return _ann_recall_frame(exact, ann, bound=0.72)


# (r06: the rows-only ``sim_ann_ivfpq`` registry entry merged into its
# oracled twin ``sim_ann_ivfpq_recall`` below — VERDICT r05 item 8.
# The raw-neighbor surface is ``operators/similarity.py::ivfpq_topk``
# + the persisted-index pair build_ivfpq_index/ivfpq_search_index,
# contract-tested in tests/test_similarity.py.)


@query("sim_ann_ivfpq_recall", oracle=_EXACT_TOPK_SQL)
def sim_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN recall vs the exact cosine baseline, driver-gated
    (the sim_ann_ivf_recall recipe over the quantized path; r06 merged
    the rows-only ``sim_ann_ivfpq`` entry in, so this IS the IVF-PQ
    registry surface — it runs the full ivfpq_topk pipeline: PQ
    training, ADC ranking, exact refine). Measured recall with
    (m_sub=16, nbits=6, refine=4, nprobe=6): 0.733 / 0.767 / 0.567 at
    sf0.001/0.01/0.1 — IDENTICAL to plain IVF at the same nlist/nprobe
    (quantization costs no recall once the ADC shortlist is exactly
    re-ranked), so the same just-under-minimum 0.55 floor applies
    (r07 VERDICT item 7). Seed-pinned quantizer
    + codebooks keep the number deterministic; only exact content +
    the contract boolean are emitted."""
    from ..operators.similarity import ivfpq_topk
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=10)
    ann = ivfpq_topk(emb, queries, k=10, nprobe=6)
    return _ann_recall_frame(exact, ann, bound=0.55)


def _index_cache_path(sf_dir: str, kind: str,
                      table: str = "embeddings") -> str:
    """Deterministic persisted-ANN-index location for one dataset —
    the _store_cache_path recipe keyed on the INPUT table's path +
    mtime. ``table`` names the actual source (r10 ADVICE: the
    text-hashed family builds from ``documents``, so keying those
    caches on embeddings.parquet left them stale when documents alone
    regenerated — every cache must key on what it was built FROM)."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(os.path.realpath(sf_dir), f"{table}.parquet")
    try:
        mtime = str(int(os.path.getmtime(src)))
    except OSError:
        mtime = "0"
    key = hashlib.md5(f"{src}|{mtime}".encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(),
                        f"graft_ann_index_{key}_{kind}")


def _ensure_index(stored, dest: str, build_fn, tables: tuple[str, ...]) -> None:
    """Build a shared per-dataset artifact (ANN index, warm dedup or
    span store) ONCE, publish-by-rename: ``dest`` is complete when
    every ``tables`` entry (a path under it) holds a ``_SUCCESS``
    marker. Concurrent processes each build into a pid-suffixed
    staging dir and the first ``os.rename`` into place wins; the loser
    discards its (identical by construction) copy, and a crashed
    leftover at ``dest`` is replaced. Readers never see a half-written
    artifact."""
    import os

    def complete(path: str) -> bool:
        return all(os.path.exists(os.path.join(path, t, "_SUCCESS"))
                   for t in tables)

    if complete(dest):
        return
    stage = f"{dest}.build_p{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    build_fn(stored, stage)
    try:
        os.rename(stage, dest)
    except OSError:
        if complete(dest):
            shutil.rmtree(stage, ignore_errors=True)
        else:
            shutil.rmtree(dest, ignore_errors=True)
            os.rename(stage, dest)


def _ensure_ivf_index(stored, dest: str, nlist: int) -> None:
    from ..operators.similarity import build_ivf_index

    _ensure_index(stored, dest,
                  lambda df, p: build_ivf_index(df, p, nlist=nlist),
                  ("data", "centroids"))


def _ensure_exact_topk(sf_dir: str, kind: str, corpus, batch,
                       k: int = 10, kernel=None,
                       table: str = "embeddings") -> DataFrame:
    """The kNN family's EXACT ground truth as a shared per-dataset
    cache artifact (r09 VERDICT item 2): seven registry entries gate
    their index path against the same deterministic full-corpus exact
    top-k, and each was recomputing the blocked matmul per entry per
    bench iteration — ~10-15 s of the bench total was repeated eval
    arithmetic. The frame (seed-free exact math, row_number
    tie-broken by vec_id — deterministic by construction) is built
    once per (dataset, corpus-slice, k) into the rename-published
    index cache and read back thereafter; the provenance test pins
    cached == freshly-computed row-for-row.

    ``kernel`` overrides the exact kernel: the default matmul-blocked
    form is right for continuous high-dim vectors, but coarse
    integer-derived vectors (the hashed-text family) tie at partition
    boundaries where argpartition picks arbitrarily — those callers
    pass the fold+window ``brute_force_topk``, whose tie-break is
    total."""
    from ..operators.similarity import brute_force_topk_blocked

    kern = kernel or brute_force_topk_blocked
    dest = _index_cache_path(sf_dir, f"exact_{kind}_k{k}", table=table)

    def build(df, path):
        # repartition(1), not coalesce(1): coalesce folds the WHOLE
        # upstream exact-kNN compute into a single task (r09's
        # local-relation finding generalized — measured multi-second
        # on the blocked matmul at sf0.1), while repartition keeps the
        # per-partition top-k parallel and shuffles only the tiny
        # k-per-query result into the one output file.
        (kern(corpus, batch, k=k)
         .repartition(1).write.mode("overwrite").parquet(path + "/topk"))

    _ensure_index(corpus, dest, build, ("topk",))
    return corpus.sparkSession.read.parquet(dest + "/topk")


@query("sim_knn_join_ivf",
       oracle=_exact_topk_sql(where_q="vec_id % 4 = 0",
                              where_c="e.vec_id % 4 <> 0"))
def sim_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed kNN JOIN (r07 VERDICT item 3): the % 4 == 0 batch
    (125-500 query vectors, not a bounded 3-probe set) joined to its
    top-10 corpus neighbors THROUGH the persisted IVF index — the
    access pattern retrieval-based decontamination and
    SemDeDup-at-scale actually run. The index over the stored corpus
    (% 4 != 0) is the shared rename-published cache artifact (built
    once per dataset; cell-partitioned parquet, norms precomputed);
    per batch, each query probes nprobe=6 of 16 cells, the scan reads
    ONLY probed cell partitions (partition pruning — plan-asserted in
    tests/test_physical_plans.py), and each corpus row joins only the
    queries probing its cell, so the join fan-out is bounded by cell
    membership, never batch x corpus.

    Output is the recall-eval frame (the sim_ann_*_recall recipe): the
    deterministic exact top-10 id sets per query (SQL-restated) plus a
    boolean folding the index run's micro-averaged recall against
    0.60 — measured 0.677 / 0.685 / 0.690 at sf0.001/0.01/0.1
    (seed-pinned quantizer, deterministic). The exact ground truth
    uses the matmul-blocked kernel (brute_force_topk_blocked — per-
    partition local top-k, the map-side combine of exact kNN); still
    eval-shaped cost the index path alone doesn't pay in deployment."""
    from ..operators.similarity import ivf_search_index

    emb = load_table(spark, sf_dir, "embeddings")
    stored = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dest = _index_cache_path(sf_dir, "knn_ivf16")
    _ensure_ivf_index(stored, dest, nlist=16)
    exact = _ensure_exact_topk(sf_dir, "m4ne0", stored, batch, k=10)
    ann = ivf_search_index(spark, dest, batch, k=10, nprobe=6)
    return _ann_recall_frame(exact, ann, bound=0.60)


@query("sim_knn_join_ivfpq",
       oracle=_exact_topk_sql(where_q="vec_id % 4 = 0",
                              where_c="e.vec_id % 4 <> 0"))
def sim_knn_join_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN JOIN through the persisted IVF-PQ index — the
    COMPRESSED twin of sim_knn_join_ivf (r07 VERDICT item 3 names
    both): the index stores 16x-compressed code rows, cell partition
    pruning is still the lookup, ADC lookup tables rank candidates
    without ever touching a float vector column, and the shortlist is
    exactly re-ranked against the SOURCE corpus (faiss RefineFlat —
    the index never duplicates the corpus). Same batch/corpus split
    and recall-eval frame as the IVF twin; measured micro-averaged
    recall 0.674 / 0.682 / 0.641 at sf0.001/0.01/0.1 (seed-pinned) —
    floor 0.60. Bench note: eval-shaped — the exact ground truth plus
    the deliberately-full ADC + refine pipeline."""
    from ..operators.similarity import (
        build_ivfpq_index,
        ivfpq_search_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    stored = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dest = _index_cache_path(sf_dir, "knn_ivfpq16")
    _ensure_index(stored, dest,
                  lambda df, p: build_ivfpq_index(df, p, nlist=16),
                  ("data", "centroids", "codebooks"))
    exact = _ensure_exact_topk(sf_dir, "m4ne0", stored, batch, k=10)
    ann = ivfpq_search_index(spark, dest, batch, corpus=stored, k=10,
                             nprobe=6, refine=4)
    return _ann_recall_frame(exact, ann, bound=0.60)


def _upsert_delta_root(sf_dir: str, kind: str) -> str:
    """Per-run scratch overlay for an upsert over a SHARED read-only
    base index — pid-keyed (the _store_cache_path race rule: wiped
    per run, so a concurrent suite + bench never rmtree a delta the
    other is mid-read on)."""
    import os

    return _index_cache_path(sf_dir, kind) + f"_deltas_p{os.getpid()}"


@query("sim_knn_join_ivf_upsert",
       oracle=_exact_topk_sql(where_q="vec_id % 4 = 0",
                              where_c="e.vec_id % 4 <> 0"))
def sim_knn_join_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance (the ANN counterpart of
    dedup_cluster_update, r08): the base index holds only the
    %4 ∈ {1,2} half of the stored corpus; the %4 == 3 batch is
    UPSERTED as a cell-partitioned epoch delta through the persisted
    quantizer (``upsert_ivf_index`` — one pass over the batch, the
    base index never read or rewritten), and the %4 == 0 batch then
    kNN-joins through base ∪ delta (``ivf_search_index`` resolves
    committed deltas; the probed-cell filter prunes every generation
    alike — plan-asserted). The contract is the same exact ground
    truth as sim_knn_join_ivf: top-10 over the FULL stored corpus —
    an upserted vector missing from the searchable set would crater
    recall, so staleness is what the oracle gates. Measured recall
    0.649 / 0.674 / 0.669 at sf0.001/0.01/0.1 (seed-pinned base
    quantizer), floor 0.62 just under the minimum (r07 VERDICT item 7
    discipline). The upsert itself is charged per run (scratch
    pid-keyed delta over the shared cached base)."""
    from ..operators.similarity import (
        ivf_search_index,
        upsert_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    late = emb.filter(F.col("vec_id") % 4 == 3)
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dest = _index_cache_path(sf_dir, "knn_ivf16_b12")
    _ensure_ivf_index(base, dest, nlist=16)
    droot = _upsert_delta_root(sf_dir, "knn_ivf16_b12")
    shutil.rmtree(droot, ignore_errors=True)
    upsert_ivf_index(late, dest, epoch_id=0, delta_root=droot,
                     out_partitions=4)
    stored = emb.filter(F.col("vec_id") % 4 != 0)
    exact = _ensure_exact_topk(sf_dir, "m4ne0", stored, batch, k=10)
    ann = ivf_search_index(spark, dest, batch, k=10, nprobe=6,
                           delta_root=droot)
    return _ann_recall_frame(exact, ann, bound=0.62)


@query("sim_knn_join_ivfpq_upsert",
       oracle=_exact_topk_sql(where_q="vec_id % 4 = 0",
                              where_c="e.vec_id % 4 <> 0"))
def sim_knn_join_ivfpq_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed twin of sim_knn_join_ivf_upsert: the %4 == 3
    batch is PQ-ENCODED by the base index's pinned centroids +
    codebooks (``upsert_ivfpq_index`` — the build-time encode kernel,
    so code rows are generation-independent) and lands as a code-row
    epoch delta; ADC ranks base ∪ delta candidates, the shortlist is
    exactly re-ranked against the source corpus. Same full-corpus
    exact ground truth; measured recall 0.642 / 0.666 / 0.613 at
    sf0.001/0.01/0.1 (seed-pinned), floor 0.60 just under the
    minimum."""
    from ..operators.similarity import (
        build_ivfpq_index,
        ivfpq_search_index,
        upsert_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    late = emb.filter(F.col("vec_id") % 4 == 3)
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dest = _index_cache_path(sf_dir, "knn_ivfpq16_b12")
    _ensure_index(base, dest,
                  lambda df, p: build_ivfpq_index(df, p, nlist=16),
                  ("data", "centroids", "codebooks"))
    droot = _upsert_delta_root(sf_dir, "knn_ivfpq16_b12")
    shutil.rmtree(droot, ignore_errors=True)
    upsert_ivfpq_index(late, dest, epoch_id=0, delta_root=droot,
                       out_partitions=4)
    stored = emb.filter(F.col("vec_id") % 4 != 0)
    exact = _ensure_exact_topk(sf_dir, "m4ne0", stored, batch, k=10)
    ann = ivfpq_search_index(spark, dest, batch, corpus=stored, k=10,
                             nprobe=6, refine=4, delta_root=droot)
    return _ann_recall_frame(exact, ann, bound=0.60)


@query("sim_knn_join_ivf_asof",
       oracle=_exact_topk_sql(where_q="vec_id % 4 = 0",
                              where_c="e.vec_id % 4 IN (1, 2)"))
def sim_knn_join_ivf_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL search hash-gated on the data path (r09, the
    driver-facing form of VERDICT item 4): the shared cached base
    index holds %4 ∈ {1,2}; per run, the %4 == 3 batch is UPSERTED as
    an epoch-0 delta AND every 5th base vector is tombstoned
    (``remove_vectors``) — then the %4 == 0 batch searches with
    ``as_of_epoch=-1, as_of_seq=-1``: the state BEFORE either
    mutation. Ground truth is the exact top-10 over the BASE
    generation only, so the gate trips in both failure directions: a
    leaked delta displaces base neighbors (contamination ~1/3 of the
    searchable set), and a leaked tombstone erases ~20% of true
    hits — either craters recall through the floor: measured
    leaky-world recall is 0.523 / 0.546 / 0.511 vs the correct
    0.682 / 0.694 / 0.680 at sf0.001/0.01/0.1 (seed-pinned base
    quantizer), so the 0.60 floor separates the two worlds with
    margin on both sides. The audit read costs what a CURRENT read
    costs: generation filters, no extra scans."""
    from ..operators.similarity import (
        ivf_search_index,
        remove_vectors,
        upsert_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter((F.col("vec_id") % 4).isin(1, 2))
    late = emb.filter(F.col("vec_id") % 4 == 3)
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dest = _index_cache_path(sf_dir, "knn_ivf16_b12")
    _ensure_ivf_index(base, dest, nlist=16)
    droot = _upsert_delta_root(sf_dir, "knn_ivf16_b12_asof")
    shutil.rmtree(droot, ignore_errors=True)
    upsert_ivf_index(late, dest, epoch_id=0, delta_root=droot,
                     out_partitions=4)
    remove_vectors(base.filter(F.col("vec_id") % 5 == 0).select("vec_id"),
                   dest, delta_root=droot)
    exact_base = _ensure_exact_topk(sf_dir, "m4in12", base, batch, k=10)
    ann = ivf_search_index(spark, dest, batch, k=10, nprobe=6,
                           delta_root=droot, as_of_epoch=-1, as_of_seq=-1)
    return _ann_recall_frame(exact_base, ann, bound=0.60)


@query("sim_knn_join_pointer_cycle",
       oracle=_exact_topk_sql(where_q="vec_id % 4 = 0",
                              where_c="e.vec_id % 4 <> 0"))
def sim_knn_join_pointer_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL versioned-pointer maintenance cycle on the data path
    (r08 VERDICT item 7 — previously pytest-only): generation 0 over
    the %4 == 1 third sits behind a versioned pointer; the %4 ∈ {2,3}
    half is UPSERTED as an epoch delta through the pinned quantizer;
    then ``maintain_ivf_index`` (deltas > 0 => due) folds base + delta
    into a fresh ``_g1`` directory — keeping the g0 quantizer while
    the delta's cell-balance drift is within sampling noise,
    retraining it past that — atomically publishes it, and prunes the
    old generation
    (keep_versions=1 — the prune path is exercised too). The %4 == 0
    batch finally kNN-joins THROUGH ``pointer_current(ptr)``.

    The oracle is the same full-corpus exact top-10 as the upsert
    twins: a maintenance bug — stale pointer, lost delta in the fold,
    compaction dropping rows, pruning the live generation — would
    crater recall or kill the read outright, so the hash gate covers
    exactly the publish/fold/prune cycle. The g0 BASE amortizes like
    the upsert twins' (built once per dataset into the shared cache,
    file-copied into the per-run pid-keyed scratch root so maintain
    can mutate and prune it); the cycle itself — upsert, fold,
    republish, prune, search — is charged per run. Measured recall
    0.650 / 0.654 at sf0.001/0.01, where the fold keeps the g0
    quantizer (l1_drift 0.232 / 0.288 under noise bound 0.339), and
    0.687 at sf0.1, where it retrains (0.202 over 0.169); identical on
    local[2]/3-partition/AQE-off + America/New_York. Floor 0.60: a
    retrained quantizer's sample depends on partition layout (0.690 /
    0.678 / 0.687 when every fold retrained), so the floor sits under
    both postures' minimum."""
    import os

    from ..operators.similarity import (
        ivf_search_index,
        upsert_ivf_index,
    )
    from ..sources.fs import pointer_current, pointer_publish
    from ..streaming.annindex import maintain_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    base_cache = _index_cache_path(sf_dir, "knn_ivf16_b1")
    _ensure_ivf_index(emb.filter(F.col("vec_id") % 4 == 1), base_cache,
                      nlist=16)
    root = _index_cache_path(sf_dir, "ptrcycle") + f"_p{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    g0, ptr = root + "/index_g0", root + "/ptr"
    shutil.copytree(base_cache, g0)
    pointer_publish(spark, ptr, g0)
    upsert_ivf_index(emb.filter((F.col("vec_id") % 4).isin(2, 3)),
                     pointer_current(spark, ptr), epoch_id=0,
                     out_partitions=4)
    maintain_ivf_index(spark, ptr, max_deltas=0, keep_versions=1)
    cur = pointer_current(spark, ptr)

    stored = emb.filter(F.col("vec_id") % 4 != 0)
    exact = _ensure_exact_topk(sf_dir, "m4ne0", stored, batch, k=10)
    ann = ivf_search_index(spark, cur, batch, k=10, nprobe=6)
    return _ann_recall_frame(exact, ann, bound=0.60)


# exact shingle-Jaccard near-dup pairs (the LSH family's deterministic
# ground truth) — shared by dedup_jaccard_verify and the recall eval
_EXACT_PAIRS_SQL = """
    WITH sh AS (
        SELECT doc_id,
               list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                              FOR i IN range(1, GREATEST(len(t) - 1, 1))]) AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
              FROM documents WHERE LENGTH(TRIM(text)) > 0)
        WHERE len(t) >= 3
    ), dsh AS (
        SELECT doc_id, UNNEST(shingles) AS s FROM sh
    ), freq AS (
        SELECT s FROM dsh GROUP BY s HAVING COUNT(*) BETWEEN 2 AND 12
    ), pruned AS (
        SELECT d.doc_id, d.s FROM dsh d JOIN freq USING (s)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pruned a JOIN pruned b USING (s)
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / (len(sa.shingles) + len(sb.shingles)
                    - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    WHERE ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                / (len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles))), 4) >= 0.3
    ORDER BY c.id_a, c.id_b
    """


@query("dedup_jaccard_verify", oracle=_EXACT_PAIRS_SQL)
def dedup_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs (jaccard >= 0.3) via the
    df-capped inverted-index candidate generator — the deterministic
    ground-truth sibling of dedup_minhash_lsh and the r04 promotion of
    the MinHash family's VERIFY stage to a full value-checked oracle
    (VERDICT r03 "Next round" item 1): identical shared shingle table,
    identical exact-Jaccard verify arithmetic, exact-recall candidates
    (a pair is missed only if EVERY shared shingle is boilerplate,
    df > 12 — a jaccard>=0.3 pair shares >=23% of its combined
    distinct shingles, so real near-dups always carry rare ones). LSH
    output is asserted to be a subset of this in tests/
    test_similarity.py::test_lsh_pairs_subset_of_exact_jaccard,
    closing the loop on the rows-only dedup_minhash_lsh entry."""
    from ..operators.dedup import jaccard_pairs_exact
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_exact(d, jaccard_threshold=0.3, max_df=12)


@query(
    "dedup_partial_overlap",
    oracle="""
    WITH docs AS (
        SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    ), chunks AS (
        SELECT CAST(doc_id AS VARCHAR) || ':' ||
               CAST((u.s - 1) // 24 AS VARCHAR)  AS ck,
               doc_id,
               t[u.s : u.s + 31]                 AS ct
        FROM docs, UNNEST(range(1, len(t) + 1, 24)) AS u(s)
    ), csh AS (
        SELECT ck, doc_id,
               list_distinct([ct[i] || ' ' || ct[i+1] || ' ' || ct[i+2]
                              FOR i IN range(1, GREATEST(len(ct) - 1, 1))]) AS shingles
        FROM chunks WHERE len(ct) >= 3
    ), dsh AS (
        SELECT ck, doc_id, UNNEST(shingles) AS s FROM csh
    ), freq AS (
        SELECT s FROM dsh GROUP BY s HAVING COUNT(*) BETWEEN 2 AND 12
    ), pruned AS (
        SELECT d.ck, d.doc_id, d.s FROM dsh d JOIN freq USING (s)
    ), cand AS (
        SELECT DISTINCT a.ck AS ck_a, b.ck AS ck_b
        FROM pruned a JOIN pruned b USING (s)
        WHERE a.ck < b.ck AND a.doc_id <> b.doc_id
    ), ver AS (
        SELECT sa.doc_id AS da, sb.doc_id AS db,
               ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                     / (len(sa.shingles) + len(sb.shingles)
                        - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
        FROM cand c
        JOIN csh sa ON sa.ck = c.ck_a
        JOIN csh sb ON sb.ck = c.ck_b
    )
    SELECT LEAST(da, db)     AS doc_a,
           GREATEST(da, db)  AS doc_b,
           COUNT(*)          AS n_matching_chunks,
           MAX(jaccard)      AS max_jaccard
    FROM ver
    WHERE jaccard >= 0.8 AND da <> db
    GROUP BY doc_a, doc_b
    ORDER BY doc_a, doc_b
    """,
)
def dedup_partial_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level near-dup pairs (north star: section-level
    plagiarism/copy detection): sliding 32-token chunks -> near-dup
    chunk pairs -> fold back to doc pairs. Finds docs sharing a copied
    section whose WHOLE-doc Jaccard is diluted below threshold; the
    planted-section contrast contract is tested in
    tests/test_similarity.py::test_partial_overlap.

    PROMOTED rows-only -> full oracle in r04 (VERDICT item 1): chunk
    candidates now come from the deterministic df-capped
    inverted-index generator (exact recall, engine-neutral) instead of
    LSH banding, so the whole pipeline — chunking, shingling, exact
    Jaccard, doc-pair fold — is value-checked against DuckDB. The LSH
    variant remains available (partial_overlap_pairs(method='lsh'))
    for corpora whose shingle-df distribution defeats capped
    postings."""
    from ..operators.dedup import partial_overlap_pairs
    d = load_table(spark, sf_dir, "documents")
    return partial_overlap_pairs(d, jaccard_threshold=0.8)


def _lsh_recall_oracle() -> str:
    """Eval oracle: the exact ground-truth pair set and the full
    banding-included LSH pair set, both restated in DuckDB, reduced to
    the recall/containment numbers a threshold-tuning loop reads."""
    return f"""
    WITH e AS (SELECT id_a, id_b FROM ({_EXACT_PAIRS_SQL}) ex),
    l AS (SELECT id_a, id_b FROM ({minhash_lsh_oracle()}) lp),
    m AS (
        SELECT (SELECT COUNT(*) FROM e)  AS n_exact,
               (SELECT COUNT(*) FROM l)  AS n_lsh,
               (SELECT COUNT(*) FROM e JOIN l USING (id_a, id_b))
                                         AS n_common
    )
    SELECT n_exact, n_lsh, n_common,
           ROUND(CAST(n_common AS DOUBLE) / NULLIF(n_exact, 0), 4)
               AS lsh_recall,
           ROUND(CAST(n_common AS DOUBLE) / NULLIF(n_lsh, 0), 4)
               AS exact_coverage
    FROM m
    """


@query("dedup_lsh_recall_eval", oracle=_lsh_recall_oracle())
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup TUNING loop as a query: measure the probabilistic
    LSH pipeline against the deterministic exact ground truth on the
    same corpus and thresholds — ``lsh_recall`` (share of true pairs
    banding surfaces) is the number that decides num_hashes/bands;
    ``exact_coverage`` (share of LSH pairs the df-capped exact path
    also finds) audits the ground truth's own boilerplate cut from the
    other side. Neither set is a subset of the other by construction:
    banding can miss true pairs, the df cap can miss pairs whose every
    shared shingle is boilerplate.

    Both pair pipelines are fully oracled (the banding via the
    bit-exact xxh64 restatement), so even this meta-query is
    value-checked. Plan shape: the two pair pipelines share the
    LRU-memoized shingle table; the comparison is one full-outer join
    on the (id_a, id_b) key plus a 1-row aggregate."""
    from ..operators.dedup import jaccard_pairs_exact
    d = load_table(spark, sf_dir, "documents")
    e = (jaccard_pairs_exact(d, jaccard_threshold=0.3, max_df=12)
         .select("id_a", "id_b", F.lit(1).alias("in_e")))
    l = (minhash_lsh_pairs(d, jaccard_threshold=0.3, sort=False)
         .select("id_a", "id_b", F.lit(1).alias("in_l")))
    j = e.join(l, ["id_a", "id_b"], "full_outer")
    # Degenerate-corpus guard (round-4 ADVICE): with zero exact pairs
    # the sums over the empty join are NULL and the ratios divide by
    # zero — coalesce the counts to 0 and null the ratios on both
    # sides (the oracle mirrors with NULLIF) so the engines agree.
    return j.agg(
        F.coalesce(F.sum("in_e"), F.lit(0)).alias("n_exact"),
        F.coalesce(F.sum("in_l"), F.lit(0)).alias("n_lsh"),
        F.count(F.when(F.col("in_e").isNotNull()
                       & F.col("in_l").isNotNull(), 1)).alias("n_common"),
    ).select(
        "n_exact", "n_lsh", "n_common",
        F.round(F.col("n_common")
                / F.nullif(F.col("n_exact"), F.lit(0)), 4)
         .alias("lsh_recall"),
        F.round(F.col("n_common")
                / F.nullif(F.col("n_lsh"), F.lit(0)), 4)
         .alias("exact_coverage"),
    )


from .oracle_helpers import xxh64_string_ctes as _xxh_ctes  # noqa: E402

_HE_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
    FROM documents WHERE LENGTH(TRIM(text)) > 0
), occ AS MATERIALIZED (
    SELECT doc_id, term AS s FROM toks WHERE LENGTH(term) > 0
), tc AS MATERIALIZED (
    SELECT DISTINCT s FROM occ
), {frag},
hashed AS (
    SELECT s, CAST(h % 16 AS BIGINT) AS bucket,
           CASE WHEN (h >> 63) = 1 THEN -1.0 ELSE 1.0 END AS sign
    FROM {out}
), sparse AS MATERIALIZED (
    SELECT o.doc_id, hd.bucket, SUM(hd.sign) AS w
    FROM occ o JOIN hashed hd ON hd.s = o.s
    GROUP BY o.doc_id, hd.bucket
), norms AS (
    SELECT doc_id, GREATEST(SQRT(SUM(w * w)), 1e-12) AS n
    FROM sparse GROUP BY doc_id
), dims AS (SELECT UNNEST(range(0, 16)) AS i)
SELECT nm.doc_id AS vec_id, d.i,
       CAST(COALESCE(sp.w, 0.0) / nm.n AS REAL) AS x
FROM norms nm CROSS JOIN dims d
LEFT JOIN sparse sp ON sp.doc_id = nm.doc_id AND sp.bucket = d.i
ORDER BY vec_id, i
"""
_he_frag, _he_out = _xxh_ctes("tc", "s", "s", prefix="he")
_HE_ORACLE = _HE_ORACLE.format(frag=_he_frag, out=_he_out)


@query("emb_hashed_dense", oracle=_HE_ORACLE)
def emb_hashed_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline's FEATURIZER on the hash gate (r10 — the
    etl.py ``index_embeddings`` stage's ``hashed_embeddings``):
    vocabulary-free dense document embeddings via the hashing trick
    (Weinberger et al. 2009, arXiv:0902.2206) — bucket =
    xxhash64(term) mod 16, sign = the hash's top bit, signed
    occurrence sums assembled DENSE and L2-normalized. One codegen'd
    token projection + one map-side-combinable shuffle; no model
    state, so the whole "text corpus → indexable vector table" edge a
    training-data pipeline needs is a pure relational pass.

    Emitted per-ELEMENT (``vec_id | i | x``) with x cast to float32
    exactly as the etl artifact stores it; the DuckDB oracle rebuilds
    bucket/sign through the bit-exact xxh64 restatement (the
    text_feature_hashing recipe), assembles the same dense vector
    over range(16), and applies the identical normalize-and-cast —
    so assembly order, zero-fill, the integer weight sums, and the
    float32 rounding are all value-gated."""
    from ..etl import hashed_embeddings

    d = load_table(spark, sf_dir, "documents")
    emb = hashed_embeddings(d, dim=16)
    return (emb.select("vec_id", F.posexplode("embedding").alias("i", "x"))
            .orderBy("vec_id", "i"))


def _ensure_hashed_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed-text embedding table as a shared per-dataset cache
    artifact (the _ensure_exact_topk rationale: the featurizer is a
    full corpus scan + shuffle, and one bench entry was recomputing it
    for the corpus, the batch, the exact truth, AND the index build
    per run). Deterministic by construction — same pinned xxh64
    arithmetic emb_hashed_dense hash-gates."""
    from ..etl import hashed_embeddings

    dest = _index_cache_path(sf_dir, "text16_emb", table="documents")

    def build(df, path):
        (hashed_embeddings(df, dim=16)
         .coalesce(4).write.mode("overwrite").parquet(path + "/emb"))

    _ensure_index(load_table(spark, sf_dir, "documents"), dest, build,
                  ("emb",))
    return spark.read.parquet(dest + "/emb")


_TEXT_KNN_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
    FROM documents WHERE LENGTH(TRIM(text)) > 0
), occ AS MATERIALIZED (
    SELECT doc_id, term AS s FROM toks WHERE LENGTH(term) > 0
), tc AS MATERIALIZED (
    SELECT DISTINCT s FROM occ
), {frag},
hashed AS (
    SELECT s, CAST(h % 16 AS BIGINT) AS bucket,
           CASE WHEN (h >> 63) = 1 THEN -1.0 ELSE 1.0 END AS sign
    FROM {out}
), sparse AS MATERIALIZED (
    SELECT o.doc_id, hd.bucket, SUM(hd.sign) AS w
    FROM occ o JOIN hashed hd ON hd.s = o.s
    GROUP BY o.doc_id, hd.bucket
), vecs AS MATERIALIZED (
    SELECT doc_id,
           MAP(list(bucket ORDER BY bucket), list(w ORDER BY bucket)) AS m,
           GREATEST(SQRT(SUM(w * w)), 1e-12) AS n
    FROM sparse GROUP BY doc_id
), dense AS MATERIALIZED (
    SELECT doc_id,
           list_transform(range(0, 16),
                          i -> CAST(COALESCE(m[i][1], 0.0) / n AS REAL)) AS vec
    FROM vecs
), q AS (
    SELECT doc_id AS query_id, vec AS qvec FROM dense WHERE doc_id % 4 = 0
), scored AS (
    SELECT q.query_id, c.doc_id AS vec_id,
           {dot} / ({cnorm} * {qnorm}) AS cos
    FROM dense c JOIN q ON c.doc_id % 4 <> 0
), topk AS (
    SELECT query_id, vec_id
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 10
)
SELECT query_id,
       string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id)
           AS exact_top_ids,
       COUNT(*) AS n_exact,
       TRUE AS recall_ok
FROM topk GROUP BY query_id ORDER BY query_id
"""
_tk_frag, _tk_out = _xxh_ctes("tc", "s", "s", prefix="tk")
_TEXT_KNN_ORACLE = _TEXT_KNN_ORACLE.format(
    frag=_tk_frag, out=_tk_out,
    dot=_DOT.format(a="c.vec", b="q.qvec"),
    cnorm=_NORM.format(a="c.vec"), qnorm=_NORM.format(a="q.qvec"))


@query("sim_knn_join_text_hashed", oracle=_TEXT_KNN_ORACLE)
def sim_knn_join_text_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED text → vector → index → kNN edge on one hash gate
    (r10): raw documents are featurized by the vocabulary-free hashing
    trick (``etl.hashed_embeddings`` — the emb_hashed_dense surface),
    the %4 != 0 corpus half is indexed (shared rename-published IVF
    cache), and the %4 == 0 half kNN-joins through the persisted
    index. The oracle restates the WHOLE pipeline in DuckDB — xxh64
    buckets/signs, dense assembly, float32 cast, the fold-order dot
    product, and the exact top-10 — so tokenization, hashing, vector
    assembly, and ranking are all value-gated end to end (the
    "training corpus in, retrieval index out" edge a text-only
    deployment runs, no pre-computed embedding table anywhere).

    Exact ground truth uses the expression-fold ``brute_force_topk``
    (not the matmul-blocked kernel): 16-dim integer-derived vectors
    tie often (orthogonal pairs at cosine 0, exact-dup texts at 1),
    and only the fold+window form breaks every tie deterministically
    by vec_id on both engines. Measured recall (nlist=8, nprobe=3):
    0.926 / 0.913 / 0.941 at sf0.001/0.01/0.1 (hashed text vectors
    cluster tightly, so 3/8 probed cells recover most true
    neighbors) — floor 0.88 just under the measured minimum (r07
    VERDICT item 7 discipline), verified under the hostile matrix."""
    from ..operators.similarity import ivf_search_index

    emb = _ensure_hashed_emb(spark, sf_dir)
    stored = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dest = _index_cache_path(sf_dir, "knn_text16", table="documents")
    _ensure_ivf_index(stored, dest, nlist=8)
    exact = _ensure_exact_topk(sf_dir, "text16", stored, batch, k=10,
                               kernel=brute_force_topk, table="documents")
    ann = ivf_search_index(spark, dest, batch, k=10, nprobe=3)
    return _ann_recall_frame(exact, ann, bound=0.88)


# retrieval-based decontamination: exact-cosine flag threshold over the
# hashed-text embedding space, and the ANN-retrieval recall floor for
# flagged pairs (both measured, see docs_decontamination_ann docstring)
_DECON_COS_THRESH = 0.98
_DECON_RECALL_FLOOR = 0.80

_DECON_ANN_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS term
    FROM documents WHERE LENGTH(TRIM(text)) > 0
), occ AS MATERIALIZED (
    SELECT doc_id, term AS s FROM toks WHERE LENGTH(term) > 0
), tc AS MATERIALIZED (
    SELECT DISTINCT s FROM occ
), {frag},
hashed AS (
    SELECT s, CAST(h % 16 AS BIGINT) AS bucket,
           CASE WHEN (h >> 63) = 1 THEN -1.0 ELSE 1.0 END AS sign
    FROM {out}
), sparse AS MATERIALIZED (
    SELECT o.doc_id, hd.bucket, SUM(hd.sign) AS w
    FROM occ o JOIN hashed hd ON hd.s = o.s
    GROUP BY o.doc_id, hd.bucket
), vecs AS MATERIALIZED (
    SELECT doc_id,
           MAP(list(bucket ORDER BY bucket), list(w ORDER BY bucket)) AS m,
           GREATEST(SQRT(SUM(w * w)), 1e-12) AS n
    FROM sparse GROUP BY doc_id
), dense AS MATERIALIZED (
    SELECT doc_id,
           list_transform(range(0, 16),
                          i -> CAST(COALESCE(m[i][1], 0.0) / n AS REAL)) AS vec
    FROM vecs
), q AS (
    SELECT dn.doc_id AS query_id, dn.vec AS qvec
    FROM dense dn JOIN documents d ON d.doc_id = dn.doc_id
    WHERE d.source = 'src0'
), c AS (
    SELECT dn.doc_id, dn.vec
    FROM dense dn JOIN documents d ON d.doc_id = dn.doc_id
    WHERE d.source <> 'src0'
), scored AS (
    SELECT q.query_id, c.doc_id AS vec_id,
           {dot} / ({cnorm} * {qnorm}) AS cos
    FROM c JOIN q ON TRUE
), topk AS (
    SELECT query_id, vec_id, cos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 10
), flagged AS (
    SELECT query_id, vec_id FROM topk WHERE ROUND(cos, 6) >= {thresh}
), qa AS (SELECT DISTINCT query_id FROM topk)
SELECT qa.query_id,
       COALESCE(string_agg(CAST(f.vec_id AS VARCHAR), ','
                           ORDER BY f.vec_id), '') AS flagged_ids,
       COUNT(f.vec_id) AS n_flagged,
       TRUE AS recall_ok
FROM qa LEFT JOIN flagged f ON f.query_id = qa.query_id
GROUP BY qa.query_id ORDER BY qa.query_id
"""
_dc_frag, _dc_out = _xxh_ctes("tc", "s", "s", prefix="dc")
_DECON_ANN_ORACLE = _DECON_ANN_ORACLE.format(
    frag=_dc_frag, out=_dc_out,
    dot=_DOT.format(a="c.vec", b="q.qvec"),
    cnorm=_NORM.format(a="c.vec"), qnorm=_NORM.format(a="q.qvec"),
    thresh=repr(_DECON_COS_THRESH))


def _decon_flag_frame(exact: DataFrame, ann: DataFrame, thresh: float,
                      bound: float) -> DataFrame:
    """The decontamination twin of ``_ann_recall_frame``: per benchmark
    query, the EXACT flagged train ids (cosine >= ``thresh`` within the
    exact top-k — deterministic, SQL-restated) plus a boolean folding
    the INDEX path's flagged-pair recall against ``bound``. Queries
    with nothing flagged keep their row (empty set, n_flagged 0) so
    the output covers the whole benchmark; a corpus with zero flagged
    pairs anywhere is vacuously ok."""
    ex_f = exact.filter(F.col("cosine") >= F.lit(thresh))
    ann_f = ann.filter(F.col("cosine") >= F.lit(thresh)).select(
        "query_id", "vec_id", F.lit(1).alias("hit"))
    hits = ex_f.select("query_id", "vec_id").join(
        F.broadcast(ann_f), ["query_id", "vec_id"], "left")
    per_q = hits.groupBy("query_id").agg(
        F.expr("array_join(transform(array_sort(collect_list(vec_id)),"
               " x -> cast(x as string)), ',')").alias("flagged_ids"),
        F.count("*").alias("n_flagged"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("_n_hit"))
    allq = exact.select("query_id").distinct()
    full = (allq.join(per_q, "query_id", "left")
            .select("query_id",
                    F.coalesce("flagged_ids", F.lit("")).alias("flagged_ids"),
                    F.coalesce("n_flagged", F.lit(0)).alias("n_flagged"),
                    F.coalesce("_n_hit", F.lit(0)).alias("_n_hit")))
    totals = full.agg(
        F.sum("n_flagged").alias("_n_flag"),
        F.sum("_n_hit").alias("_n_hits"))
    ok = F.when(F.col("_n_flag") == 0, F.lit(True)).otherwise(
        (F.col("_n_hits") / F.col("_n_flag")) >= F.lit(bound))
    return (full.crossJoin(F.broadcast(totals))
            .select("query_id", "flagged_ids", "n_flagged",
                    ok.alias("recall_ok"))
            .orderBy("query_id"))


@query("docs_decontamination_ann", oracle=_DECON_ANN_ORACLE)
def docs_decontamination_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-BASED benchmark decontamination through the persisted
    ANN index (r10 VERDICT item 2 — the composition users actually
    deploy): benchmark docs (source 'src0', the held-out stand-in) are
    featurized by the oracled hashing-trick embedding
    (``etl.hashed_embeddings``), kNN-joined through a persisted IVF
    index built over the TRAIN corpus (every other source), and train
    docs whose cosine clears ``_DECON_COS_THRESH`` are flagged as
    contamination — the embedding-space complement of the
    shingle-overlap ``docs_decontamination`` (n-gram overlap catches
    verbatim leakage; embedding cosine catches paraphrase-shaped
    leakage on the same gate).

    Output per benchmark doc: the EXACT flagged train ids (cosine
    computed by the deterministic fold kernel within the exact top-10,
    rounded to 6 before the threshold — both engines make bit-equal
    flag decisions) and a boolean folding the index path's
    flagged-pair recall against ``_DECON_RECALL_FLOOR``. The DuckDB
    oracle restates the ENTIRE pipeline — xxh64 bucket/sign hashing,
    dense assembly, float32 cast, fold-order cosine, top-10 ranking,
    threshold flags — so the composed decontamination edge is
    value-gated end to end. Measured flagged-pair recall: 1.0 at all
    three SFs with 6 / 3 / 37 flagged pairs at sf0.001/0.01/0.1
    (flagged pairs are near-duplicates, and near-duplicate vectors
    land in the query's own best cell, the first one probed); floor
    0.80 guards regression without overfitting the measurement (the
    whole-top-10 recall measures 0.916 / 0.928 / 0.956 for context).
    Scale posture: the index side is the bucketed cell-partitioned
    store (pruned scans); the query side rides the r11 size-gated
    probe, so a benchmark of ANY size survives — no driver
    materialization above the ceiling."""
    from ..operators.similarity import ivf_search_index

    emb = _ensure_hashed_emb(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source")
    lab = emb.join(src, "vec_id")
    train = lab.filter(F.col("source") != "src0").select("vec_id", "embedding")
    bench = lab.filter(F.col("source") == "src0").select(
        F.col("vec_id").alias("query_id"), "embedding")
    dest = _index_cache_path(sf_dir, "decon_text16", table="documents")
    _ensure_ivf_index(train, dest, nlist=8)
    exact = _ensure_exact_topk(sf_dir, "decon16", train, bench, k=10,
                               kernel=brute_force_topk, table="documents")
    ann = ivf_search_index(spark, dest, bench, k=10, nprobe=3)
    return _decon_flag_frame(exact, ann, thresh=_DECON_COS_THRESH,
                             bound=_DECON_RECALL_FLOOR)


_MEDIA_KNN_ORACLE = """
WITH m AS (
    SELECT doc_id AS media_id, LOWER(hex(encode(text))) AS h
    FROM documents WHERE LENGTH(text) > 0
), b AS (
    SELECT media_id,
           [ 16 * (strpos('0123456789abcdef', h[2*j-1]) - 1)
               + (strpos('0123456789abcdef', h[2*j]) - 1)
             FOR j IN range(1, LEAST(len(h) // 2, 4096) + 1) ] AS bytes
    FROM m
), dense AS MATERIALIZED (
    SELECT media_id,
           [ CAST(CAST(ROUND(CAST(len(list_filter(bytes, x -> x % 8 = k)) AS DOUBLE)
                             / GREATEST(len(bytes), 1), 6) AS FLOAT) AS DOUBLE)
             FOR k IN range(0, 8) ] AS vec
    FROM b
), q AS (
    SELECT media_id AS query_id, vec AS qvec FROM dense WHERE media_id % 4 = 0
), scored AS (
    SELECT q.query_id, c.media_id AS vec_id,
           {dot} / ({cnorm} * {qnorm}) AS cos
    FROM dense c JOIN q ON c.media_id % 4 <> 0
), topk AS (
    SELECT query_id, vec_id
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 10
)
SELECT query_id,
       string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id)
           AS exact_top_ids,
       COUNT(*) AS n_exact,
       TRUE AS recall_ok
FROM topk GROUP BY query_id ORDER BY query_id
""".format(dot=_DOT.format(a="c.vec", b="q.qvec"),
           cnorm=_NORM.format(a="c.vec"), qnorm=_NORM.format(a="q.qvec"))


@query("sim_knn_join_media_features", oracle=_MEDIA_KNN_ORACLE)
def sim_knn_join_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTIMODAL → ANN composition (r10 VERDICT item 3 — the last
    unbuilt compose edge): binary media payloads are featurized by the
    Arrow-batched extraction kernel (``operators.multimodal.
    extract_features`` — the deterministic byte-histogram decode stub,
    swap point documented there), the %4 != 0 feature vectors are
    indexed (shared rename-published IVF cache), and the %4 == 0
    payloads kNN-join their nearest media through the persisted index
    — the ``sim_knn_join_text_hashed`` recipe applied to the binary
    column, i.e. near-duplicate media retrieval over an opaque-payload
    corpus. Payload bytes never shuffle: features (8 floats) leave the
    mapInPandas kernel, everything downstream is the standard
    cell-pruned index path with the r11 size-gated probe.

    The DuckDB oracle restates the WHOLE pipeline from the raw text
    bytes — hex-domain byte extraction, the 4096-byte cap, bucket
    histogram, the round(.,6)+float32 representation the
    FEATURE_SCHEMA imposes (bit-parity with the multimodal_features
    oracle), fold-order cosine, and the exact top-10 with total
    tie-break by media id — so decode plumbing, Arrow float
    narrowing, vector assembly, and ranking are value-gated end to
    end. Exact ground truth uses the fold+window ``brute_force_topk``:
    8-dim byte histograms of same-language text tie constantly, and
    only the fold form breaks every tie identically on both engines.
    Measured index recall (nlist=8, nprobe=3): 0.946 / 0.934 / 0.983
    at sf0.001/0.01/0.1 (deterministic — seed-pinned quantizer,
    deterministic features); floor 0.90 just under the measured
    minimum (r07 VERDICT item 7 discipline), verified under the
    hostile matrix."""
    from ..operators.multimodal import extract_features
    from ..operators.similarity import ivf_search_index
    from .extensions import _media

    media = _media(spark, sf_dir).filter(F.octet_length("payload") > 0)
    vec = extract_features(media).select(
        F.col("media_id").alias("vec_id"),
        F.col("feature").alias("embedding"))
    stored = vec.filter(F.col("vec_id") % 4 != 0)
    batch = vec.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    dest = _index_cache_path(sf_dir, "knn_media8", table="documents")
    _ensure_ivf_index(stored, dest, nlist=8)
    exact = _ensure_exact_topk(sf_dir, "media8", stored, batch, k=10,
                               kernel=brute_force_topk, table="documents")
    ann = ivf_search_index(spark, dest, batch, k=10, nprobe=3)
    return _ann_recall_frame(exact, ann, bound=0.90)
