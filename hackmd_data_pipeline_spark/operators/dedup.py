"""Near-duplicate detection at scale (north-star extension surface).

The reference's dedup is exact-id only (SURVEY.md §2.D, O-22/O-23 —
reference arxiv_collector.py:123-134,251,260-264). For a 100 TB
training-data pipeline that is not enough; these operators add
content-based near-dup detection with sub-quadratic candidate
generation:

  * minhash_signatures_from / minhash_lsh_pairs — shingle -> k
    minhashes -> banded LSH buckets -> candidate pairs ->
    exact-Jaccard verify.
    Never materializes the O(n^2) pair space: the only joins are
    equi-joins on (band, band_hash), so Spark shuffles by bucket.
  * simhash_signatures / simhash_pairs — 64-bit SimHash with
    16-bit-block blocking (Charikar 2002-style); Hamming verify.

Everything is built-in column expressions (xxhash64, bit ops) — no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window as W

from ..functions.scalars import WS_CLASS
from .checkpointing import iter_checkpoint


def _tokens(text_col):
    return F.split(F.trim(F.lower(text_col)), WS_CLASS)


def _shingles_from(toks, n: int):
    """Shingle chain over an ALREADY-TOKENIZED array column — factored
    out so callers can stage the split() into its own projection (the
    expression tree references ``toks`` ~2n-1 times, and interpreted
    expression evaluation re-runs each textual reference per row; with
    a staged attribute the split runs once per row — measured 0.78 ->
    0.65 s for the sf0.1 shingle pass, r12)."""
    sh = toks
    for j in range(1, n):
        # pair position i with token i+j; tail positions get NULL b ->
        # NULL shingle (F.concat propagates null), filtered at the end
        sh = F.zip_with(sh, F.slice(toks, j + 1, F.size(toks)),
                        lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.filter(sh, lambda x: x.isNotNull()))


def shingles(text_col, n: int = 3):
    """Distinct lowercase n-token shingles of a text column.

    Built with zip_with over shifted slices — each shingle position
    touches each token once. (The naive transform-over-indices with
    element_at(toks, i+j) re-evaluates the split() subtree per element
    in the interpreted HOF path — no common-subexpression elimination —
    which benchmarked 10x slower at sf0.1.) Docs shorter than n tokens
    yield an empty array.
    """
    return _shingles_from(_tokens(text_col), n)


def hashed_shingle_table(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         shingle_n: int = 3) -> DataFrame:
    """``id | sh array<long>`` — each doc's distinct hashed shingles.

    This is THE shared intermediate of the whole MinHash family:
    signatures are min-reductions over it, the exact-Jaccard verify
    intersects it, and the persisted dedup store materializes it.
    Docs with no shingles (shorter than n tokens) are dropped — they
    can produce no signature and no pair.

    The tokenizer is STAGED into its own projection (r12): the shingle
    chain references the token array ~2n-1 times, and interpreted HOF
    evaluation re-runs each reference per row — staging makes split()
    run once per row (same expressions, bit-identical output; the
    multiple downstream references block CollapseProject from
    re-inlining). Measured 0.78 -> 0.65 s for the sf0.1 shingle pass.
    """
    hashed = F.transform(
        F.filter(_shingles_from(F.col("_toks"), shingle_n),
                 lambda s: F.length(s) > 0),
        lambda s: F.xxhash64(s))
    return (
        df.select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), hashed.alias("sh"))
        .filter(F.size("sh") > 0)
    )


from collections import OrderedDict

# LRU of persisted shingle tables keyed by (session id, analyzed-plan
# semantic hash, shingle params). Bench/gate sweeps and the composed
# operators (pairs -> clusters -> partial-overlap) re-derive the same
# shingle table many times in one session; memoizing the persisted
# handle makes every re-derivation a cache HIT while eviction bounds
# executor memory to a handful of corpora.
_SHINGLE_CACHE: OrderedDict = OrderedDict()
_SHINGLE_CACHE_MAX = 4


def _cached_shingle_table(df: DataFrame, id_col: str, text_col: str,
                          shingle_n: int) -> DataFrame:
    from pyspark import StorageLevel

    try:
        key = (id(df.sparkSession),
               df._jdf.queryExecution().analyzed().semanticHash(),
               id_col, text_col, shingle_n)
    except Exception:
        key = None  # plan not hashable — build uncached, still persisted

    if key is not None:
        hit = _SHINGLE_CACHE.get(key)
        # the id() in the key can be recycled after a session is GC'd —
        # verify the cached entry's session is THIS session by identity
        if hit is not None and hit[0] is df.sparkSession:
            _SHINGLE_CACHE.move_to_end(key)
            return hit[1]
        if hit is not None:
            _SHINGLE_CACHE.pop(key, None)

    sh = hashed_shingle_table(df, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK)
    if key is not None:
        _SHINGLE_CACHE[key] = (df.sparkSession, sh)
        while len(_SHINGLE_CACHE) > _SHINGLE_CACHE_MAX:
            _, (_, old) = _SHINGLE_CACHE.popitem(last=False)
            try:
                old.unpersist()
            except Exception:
                pass  # owning session already stopped
    return sh


def minhash_signatures_from(sh_df: DataFrame, id_col: str = "doc_id",
                            num_hashes: int = 16) -> DataFrame:
    """``id | sig_0..sig_{k-1}`` from a hashed-shingle table.

    One explode + one hash-partitioned aggregation: signature width is
    k columns computed as k min-aggregates in a single codegen'd pass.
    The shingle string was hashed ONCE (xxhash64) upstream; the k
    "independent" hash functions are cheap remixes xxhash64(h, i) of
    that 8-byte value — k string hashes per shingle would dominate
    CPU. Map-side partial aggregation shrinks the shuffle to ~k longs
    per doc.

    (A shuffle-free per-row formulation via array_min over
    higher-order-function transforms benchmarks 2x SLOWER despite
    zero exchange: HOF lambdas are interpreted per element, while this
    path stays whole-stage-codegen'd. Measured at sf0.1.)
    """
    ex = sh_df.select(id_col, F.explode("sh").alias("h"))
    aggs = [
        F.min(F.xxhash64("h", F.lit(i))).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def band_buckets(sigs: DataFrame, id_col: str = "doc_id",
                 num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """``id | band | band_hash`` — each doc's LSH band buckets: k
    hashes split into ``bands`` bands of k/bands rows, each band
    hashed to one bucket key. Shared by the self-join (batch dedup)
    and the new-vs-store join (incremental dedup)."""
    rows = num_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"sig_{b * rows + r}") for r in range(rows)]).alias("band_hash"),
        )
        for b in range(bands)
    ])
    return (
        sigs.select(id_col, F.explode(band_structs).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b)`` from banded signatures.

    LSH banding: docs sharing any band hash become candidates
    (equi-join on (band, band_hash) — shuffle by bucket, never
    all-pairs).
    """
    buckets = band_buckets(sigs, id_col, num_hashes, bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def verify_jaccard(candidates: DataFrame, sh_df: DataFrame,
                   id_col: str = "doc_id",
                   jaccard_threshold: float = 0.5,
                   sort: bool = True) -> DataFrame:
    """Exact shingle-set Jaccard verify of candidate pairs against a
    hashed-shingle table: keeps ``(id_a, id_b, jaccard)`` at or above
    the threshold. Two keyed equi-joins (id_a, id_b) — candidate
    cardinality is LSH-bounded, never all-pairs.

    ``sort=False`` skips the output ordering (a range exchange +
    sort): consumers like connected-components treat pairs as a set,
    so ordering them first is pure waste."""
    sh = sh_df.select(F.col(id_col).alias("_id"), F.col("sh").alias("_sh"))
    with_a = candidates.join(
        sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
    with_b = with_a.join(
        sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    out = (
        with_b.select(
            "id_a", "id_b",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return out.orderBy("id_a", "id_b") if sort else out


def postings_candidates_bounded(sh_df: DataFrame, id_col: str,
                                jaccard_threshold: float, max_df: int,
                                doc_of=None) -> DataFrame:
    """Inverted-index candidate pairs with a SAFE Jaccard upper-bound
    prefilter — the piece that makes exact postings dedup affordable.

    The naive postings join admits every pair sharing ONE rare
    shingle; on a dup-heavy corpus that is millions of junk pairs per
    few hundred true ones, and the array-carrying verify join pays for
    all of them (measured 7.4 s at sf0.1 chunks). Instead:

      1. count each pair's shared LIVE shingles (df in [2, max_df]) —
         the same postings join, aggregated instead of distinct'd;
      2. bound the true intersection: shared shingles outside the
         live set must be boilerplate (df > max_df; a shared shingle
         cannot have df < 2), so
         ``i <= cnt + least(n_boiler_a, n_boiler_b)``;
      3. Jaccard is monotone in the intersection at fixed sizes, so
         ``J <= i_ub / (n_a + n_b - i_ub)`` — prune any pair whose
         BOUND sits below threshold (epsilon under the rounded gate,
         so no true pair can be lost).

    Per-pair state is four small ints — the expensive shingle-array
    verify join runs only on the survivors. ``doc_of(col)`` optionally
    maps a chunk id to its document id; same-doc pairs are dropped
    INSIDE the join when given (the chunk-overlap path).
    """
    ex = sh_df.select(F.col(id_col).alias("_id"), F.explode("sh").alias("_h"))
    freq = ex.groupBy("_h").agg(F.count("*").alias("_df"))
    exf = ex.join(freq, "_h")
    stats = (sh_df.select(F.col(id_col).alias("_id"),
                          F.size("sh").alias("_n"))
             .join(exf.filter(F.col("_df") > max_df)
                   .groupBy("_id").agg(F.count("*").alias("_nb")),
                   "_id", "left")
             .select("_id", "_n", F.coalesce("_nb", F.lit(0)).alias("_nb")))
    pruned = exf.filter((F.col("_df") >= 2) & (F.col("_df") <= max_df)) \
                .select("_id", "_h")
    a = pruned.select("_h", F.col("_id").alias("id_a"))
    b = pruned.select("_h", F.col("_id").alias("id_b"))
    joined = a.join(b, "_h").filter(F.col("id_a") < F.col("id_b"))
    if doc_of is not None:
        joined = joined.filter(doc_of(F.col("id_a")) != doc_of(F.col("id_b")))
    cnt = joined.groupBy("id_a", "id_b").agg(F.count("*").alias("_cnt"))
    sa = stats.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"),
                      F.col("_nb").alias("_ba"))
    sb = stats.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nbn"),
                      F.col("_nb").alias("_bb"))
    i_ub = F.col("_cnt") + F.least("_ba", "_bb")
    j_ub = i_ub.cast("double") / (F.col("_na") + F.col("_nbn") - i_ub)
    return (cnt.join(sa, "id_a").join(sb, "id_b")
            .filter(j_ub >= jaccard_threshold - 0.0001)
            .select("id_a", "id_b"))


def jaccard_pairs_exact(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", shingle_n: int = 3,
                        jaccard_threshold: float = 0.3,
                        max_df: int = 100, sort: bool = True) -> DataFrame:
    """All pairs with exact shingle Jaccard >= threshold (modulo the
    documented ``max_df`` boilerplate cut): bounded inverted-index
    candidates -> the SAME exact-Jaccard verify the MinHash-LSH
    pipeline uses.

    This is the deterministic ground-truth sibling of
    ``minhash_lsh_pairs``: identical shingle table, identical verify
    arithmetic, exact-recall candidate generation (up to the max_df
    cut) — so an oracle over this query value-checks the verify stage
    shared by the whole MinHash family, and LSH output must be a
    subset of it (asserted in tests/test_similarity.py)."""
    sh_df = _cached_shingle_table(df, id_col, text_col, shingle_n)
    cands = postings_candidates_bounded(sh_df, id_col,
                                        jaccard_threshold, max_df)
    return verify_jaccard(cands, sh_df, id_col, jaccard_threshold, sort)


def editdistance_pair_edges(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", head_len: int = 40,
                            prefix_len: int = 16, max_block: int = 64,
                            max_dist: int = 10) -> DataFrame:
    """Edit-distance near-dup edges ``(id_a, id_b, edit_dist)`` on
    document heads, with BOUNDED-cardinality blocking.

    r04 rework of the r03 scheme (VERDICT r03 "What's wrong" #1): the
    old 8-raw-char prefix block was governed by block-size SKEW — a
    corpus with a shared boilerplate head collapsed into one giant
    block and the within-block levenshtein went quadratic (SCALE.md's
    10x replica measurement). Two changes kill that failure mode:

      * block key = first ``prefix_len`` chars of the ALPHANUMERIC
        NORMALIZATION of the head (case-folded, punctuation/whitespace
        stripped) — longer and denser than 8 raw chars, so formatting
        edits don't split true dups while unrelated docs rarely
        collide;
      * a hard ``max_block`` cap: blocks larger than ``max_block``
        are excluded from pairing entirely (the stop-block cut — the
        same posture as winnowing's / the inverted index's ``max_df``).
        An oversized block is by definition a boilerplate head, where
        head-edit-distance is not a meaningful dup signal anyway.

    With the cap, per-block work is <= max_block^2/2 and total work is
    <= max_block * n_docs — LINEAR in the corpus by construction, for
    ANY input distribution. The normalization scan is bounded too: it
    strips only the first 4*prefix_len raw chars, not the whole text.
    Shared by dedup_editdistance, dedup_cc_clusters, and
    graph_triangle_stats; fully DuckDB-expressible, so all three stay
    value-checked.
    """
    lower_head = F.lower(F.trim(F.col(text_col)))
    norm = F.regexp_replace(
        F.substring(lower_head, 1, 4 * prefix_len), "[^a-z0-9]", "")
    d = (df.filter(F.length(F.trim(text_col)) > 0)
         .select(F.col(id_col),
                 F.substring(lower_head, 1, head_len).alias("head"),
                 F.substring(norm, 1, prefix_len).alias("_blk")))
    live = (d.groupBy("_blk").agg(F.count("*").alias("_bn"))
            .filter((F.col("_bn") >= 2) & (F.col("_bn") <= max_block))
            .select("_blk"))
    dd = d.join(live, "_blk")
    a, b = dd.alias("a"), dd.alias("b")
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.levenshtein(F.col("a.head"), F.col("b.head"))
                 .alias("edit_dist"))
        .filter(F.col("edit_dist") <= max_dist)
    )


# The DuckDB restatement of editdistance_pair_edges' defaults, shared
# verbatim by the three oracles built on it (dedup_editdistance,
# dedup_cc_clusters, graph_triangle_stats). Ends with a CTE named
# ``pairs(id_a, id_b, edit_dist)``.
EDITDIST_PAIRS_ORACLE_CTE = """
    d AS (
        SELECT doc_id,
               SUBSTR(LOWER(TRIM(text)), 1, 40) AS head,
               SUBSTR(REGEXP_REPLACE(SUBSTR(LOWER(TRIM(text)), 1, 64),
                                     '[^a-z0-9]', '', 'g'), 1, 16) AS blk
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    ), live AS (
        SELECT blk FROM d GROUP BY blk HAVING COUNT(*) BETWEEN 2 AND 64
    ), db AS (
        SELECT d.doc_id, d.head, d.blk FROM d JOIN live USING (blk)
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               levenshtein(a.head, b.head) AS edit_dist
        FROM db a JOIN db b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.head, b.head) <= 10
    )"""


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      jaccard_threshold: float = 0.5,
                      sort: bool = True) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, jaccard)`` with jaccard >= threshold.

    Fused single-scan pipeline: the hashed-shingle table is computed
    ONCE and cached, then consumed by all three downstream stages
    (signature min-reduction, and the id_a/id_b sides of the exact
    verify). The unfused form recomputed the shingle pass — split +
    n-gram zip_with + distinct per doc, the dominant CPU cost — three
    times, once per consumer, because the three consumers shuffle on
    different keys and share no exchange Catalyst could reuse.
    MEMORY_AND_DISK so a partition that doesn't fit executor memory
    spills instead of silently recomputing the whole lineage.

    Cache lifetime: shingle tables go through a small LRU memo (see
    ``_cached_shingle_table``) — repeat invocations over the same
    corpus (minhash pairs, cluster resolve, partial overlap, bench
    iterations) reuse ONE persisted table, and evicted entries are
    unpersisted, so a long-lived session holds at most
    ``_SHINGLE_CACHE_MAX`` cached shingle tables instead of leaking
    one per invocation (round-2 ADVICE).
    """
    sh_df = _cached_shingle_table(df, id_col, text_col, shingle_n)
    sigs = minhash_signatures_from(sh_df, id_col, num_hashes)
    candidates = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    return verify_jaccard(candidates, sh_df, id_col, jaccard_threshold, sort)


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 64) -> DataFrame:
    """``id | simhash`` — SimHash over whitespace tokens.

    Per token: xxhash64; per bit: +1/-1 vote; sign of the per-bit sum
    is the signature bit. One explode + one aggregation with packed
    sum-columns — single shuffle on id.

    64-bit signature (round-3 scale fix): a 32-bit signature blocked
    into 8-bit pigeonhole blocks caps the join key space at 256 values
    per block, so candidate pairs grow O(N²/1024) — quadratic at 100×
    scale. 64 bits with 16-bit blocks gives 65,536 values per block,
    the same Hamming-≤3 guarantee, and linear-ish candidate growth.

    Vote packing: 64 independent long sum-columns would double the
    hash-aggregate buffer vs the old 32. Instead each sum column packs
    FOUR 16-bit bit-counters (bit i contributes ``1 << (16*(i%4))`` to
    column ``i//4``): 16 agg buffers for 64 bits. Safe while every doc
    has <= 32,767 tokens (the top lane occupies bits 48..63 of the
    signed accumulator); beyond that, chunk docs first (the partial-
    overlap path) or split the packing into 8 columns of 2 lanes. The
    synthetic corpus max tokens/doc is ≪ 1k.
    """
    assert bits == 64, "packed vote kernel is specialized to 64 bits"
    ex = (
        df.select(id_col, F.explode(F.split(F.trim(F.lower(F.col(text_col))), WS_CLASS)).alias("tok"))
        .filter(F.length("tok") > 0)
        .withColumn("h", F.xxhash64("tok"))
    )
    return simhash_pack_votes(ex, id_col, bits)


def simhash_pack_votes(ex: DataFrame, id_col: str, bits: int = 64) -> DataFrame:
    """The packed majority-vote kernel behind every SimHash-family
    signature: ``(id, h)`` hashed-feature OCCURRENCE rows ->
    ``id | simhash``. Shared by token SimHash (above) and the
    multimodal byte-block perceptual hash
    (operators/multimodal.py::media_phash_signatures, r08)."""
    assert bits == 64, "packed vote kernel is specialized to 64 bits"
    # v_i = 2*s_i - n > 0 <=> 2*s_i > n, with s_i = count of set bit i.
    # Packed: column c sums bits {4c, 4c+1, 4c+2, 4c+3} in lanes
    # 0..3 (16 bits each). Expressions are built as SQL strings — the
    # Column-algebra form needed ~900 py4j round-trips and cost ~1.3 s
    # of driver-side plan-build PER CALL (measured sf0.1; the JVM-side
    # parse of the same expressions is <10 ms).
    n_cols = bits // 4
    sums = []
    for c in range(n_cols):
        lanes = " + ".join(
            f"(shiftleft(shiftright(h, {4 * c + lane}) & 1, {16 * lane}))"
            for lane in range(4))
        sums.append(F.expr(f"sum({lanes})").alias(f"s_{c}"))
    per_doc = ex.groupBy(id_col).agg(*sums, F.count("*").alias("_n"))
    bit_terms = []
    for c in range(n_cols):
        for lane in range(4):
            i = 4 * c + lane
            s_i = f"(shiftright(s_{c}, {16 * lane}) & 65535)"
            bit_terms.append(
                f"shiftleft(cast(if(2 * {s_i} > _n, 1, 0) as bigint), {i})")
    sig = " | ".join(bit_terms)
    return per_doc.select(id_col, F.expr(sig).alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  bits: int = 64, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocking: the 64-bit signature splits into 4 16-bit blocks; by
    pigeonhole, any pair within Hamming distance 3 agrees on >= 1
    block -> equi-join per block (shuffle by block value), then exact
    Hamming verify via bit_count(xor). 16-bit blocks keep the join key
    space at 65,536 values per block — candidate buckets stay thin as
    the corpus grows (the round-2 verdict's 8-bit/256-value blocking
    was quadratic at scale).
    """
    sigs = simhash_signatures(df, id_col, text_col, bits)
    return hamming_block_pairs(sigs, id_col, bits, max_hamming)


def hamming_block_pairs(sigs: DataFrame, id_col: str, bits: int = 64,
                        max_hamming: int = 3) -> DataFrame:
    """Pigeonhole block-join + exact Hamming verify over an
    ``id | simhash`` signature table — the candidate machinery of
    ``simhash_pairs``, factored out so any 64-bit signature family
    (token SimHash, the multimodal byte-block perceptual hash) shares
    the sub-quadratic pairing (r08)."""
    n_blocks = 4
    width = bits // n_blocks
    mask = (1 << width) - 1
    block_structs = F.array(*[
        F.struct(
            F.lit(k).alias("blk"),
            F.shiftright(F.col("simhash"), k * width).bitwiseAND(F.lit(mask)).alias("blk_val"),
        )
        for k in range(n_blocks)
    ])
    blocked = (
        sigs.select(id_col, "simhash", F.explode(block_structs).alias("bb"))
        .select(id_col, "simhash", F.col("bb.blk").alias("blk"), F.col("bb.blk_val").alias("blk_val"))
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.blk_val") == F.col("b.blk_val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                ham.alias("hamming"))
        # filter BEFORE distinct: the Hamming cut kills most candidate
        # rows, so the dedup shuffle carries survivors only
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("id_a", "id_b")
    )


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken '03,
    the MOSS algorithm) — the rolling-hash fingerprint family of the
    north star: ``id | fp`` distinct fingerprint rows.

    Rolling char k-gram polynomial hashes of the lowercased UTF-8
    bytes (base-257 in uint64 wraparound arithmetic), then the min
    hash of every window of ``w`` consecutive k-grams, deduplicated.
    Guarantee: any substring match of length >= w + k - 1 between two
    docs yields at least one shared fingerprint; fingerprint density
    is ~2/(w+1) of positions, independent of doc length.

    Plan shape: ONE Arrow-batched mapInPandas pass, zero shuffle —
    per-position work is a numpy sliding-window matmul + windowed
    min, fully vectorized. (The explode + per-doc-window DataFrame
    formulation was measured 5x slower at sf0.1: per-element
    interpreted-HOF hashing plus a window shuffle, for work that is
    embarrassingly per-row.) At 100 TB the fingerprint table is the
    ~2/(w+1)-density index you join, not the text.
    """
    import numpy as np

    powers = (np.uint64(257) ** np.arange(k - 1, -1, -1, dtype=np.uint64))

    def fp_batches(batches):
        import pandas as pd

        with np.errstate(over="ignore"):  # uint64 wraparound IS the hash
            for pdf in batches:
                out_ids: list = []
                out_fps: list = []
                for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                    if text is None:
                        continue
                    b = np.frombuffer(
                        str(text).lower().encode("utf-8"), dtype=np.uint8
                    ).astype(np.uint64)
                    if len(b) < k + w - 1:  # no full window
                        continue
                    grams = np.lib.stride_tricks.sliding_window_view(b, k) @ powers
                    mins = np.lib.stride_tricks.sliding_window_view(grams, w).min(axis=1)
                    # bit-reinterpret uint64 -> int64 (Spark LongType)
                    uniq = np.unique(mins).view(np.int64)
                    out_ids.extend([doc_id] * len(uniq))
                    out_fps.extend(uniq.tolist())
                yield pd.DataFrame({
                    id_col: pd.array(out_ids, dtype="int64"),
                    "fp": pd.array(out_fps, dtype="int64"),
                })

    schema = df.select(id_col).schema.add("fp", "long")
    narrow = df.select(id_col, text_col)
    # fingerprinting is CPU-bound Python: if the scan produced fewer
    # partitions than cores (one small parquet file -> ONE task doing
    # every doc serially), spread the rows first — the tiny (id, text)
    # shuffle buys full-core parallelism for the Arrow stage. At scale
    # the scan already yields >= cores partitions and this is a no-op.
    target = df.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < target:
        narrow = narrow.repartition(target)
    return narrow.mapInPandas(fp_batches, schema=schema)


def winnowing_pairs(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 8, w: int = 4,
                    min_shared: int = 3, max_df: int = 20) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints:
    ``(id_a, id_b, n_shared)`` with n_shared >= min_shared. The join is
    an equi-join on fp (shuffle by fingerprint, never all-pairs) —
    the same sub-quadratic posture as the LSH families.

    ``max_df`` is the MOSS-style stop-fingerprint cut: fingerprints
    present in more than max_df docs carry no discriminating signal
    (boilerplate) and would make their equi-join buckets quadratic —
    they are dropped before the self-join. This is what keeps the
    candidate space bounded on templated corpora at any scale: bucket
    size is capped by construction, so worst-case pair rows are
    n_fps * max_df^2, linear in corpus size for fixed max_df.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    rare = (fps.groupBy("fp").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df).select("fp"))
    fps = fps.join(rare, "fp", "left_semi")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("id_a", "id_b")
    )


def dedup_clusters(pairs: DataFrame, id_col_a: str = "id_a",
                   id_col_b: str = "id_b", max_iter: int = 20,
                   small_graph_threshold: int = 100_000) -> DataFrame:
    """Connected components over near-dup candidate pairs: assigns every
    id in ``pairs`` its cluster's MINIMUM id (the canonical
    representative) — ``id | cluster_id``.

    Min-label propagation: start with label = id, repeatedly take the
    min label over each node's neighborhood (both directions of the
    undirected edge), stop when an iteration changes nothing.
    Convergence needs at most (cluster diameter) rounds — near-dup
    clusters are shallow (stars around a template), so this terminates
    in 2-4 rounds in practice; ``max_iter`` bounds pathological chains.

    Each round is one shuffle (groupBy id over the edge list union);
    labels are checkpointed via iter_checkpoint every few rounds to
    stop the iterative lineage from growing a quadratic plan — the
    standard Spark-iterative-algorithm posture (same reason GraphX
    checkpoints Pregel state). iter_checkpoint (operators/
    checkpointing.py) switches local -> RELIABLE checkpointing when a
    checkpoint dir is configured, so a lost executor on a real cluster
    cannot strand the truncated lineage mid-job (r06 VERDICT item 3).

    Edge lists at or under ``small_graph_threshold`` (probed with a
    limit-collect; ~1.6 MB at the default) short-cut
    to a DRIVER-SIDE union-find instead — 2-4 distributed rounds on a
    few-hundred-edge graph pay ~per-stage scheduler latency for
    microseconds of pointer-chasing. Bounded collect, same class as
    the capped k-means sample (operators/similarity.py) and the
    PageRank fast path (operators/graph.py); both paths satisfy the
    same union-find equivalence property test.
    """
    edges = (
        pairs.select(F.col(id_col_a).alias("src"), F.col(id_col_b).alias("dst"))
        .union(pairs.select(F.col(id_col_b).alias("src"), F.col(id_col_a).alias("dst")))
        .distinct()
    )
    # size probe AND small-graph data in ONE plan execution: limit
    # early-exits, so a huge graph pays a partial scan, a small graph
    # is fully in hand. (The former count-then-collect needed a
    # localCheckpoint to avoid re-execution, and the .rdd conversion
    # inside localCheckpoint costs ~1.2 s of driver-side plan analysis
    # on a deep LSH lineage — the slowest part of the whole operator
    # at sf0.1.)
    probe = edges.limit(small_graph_threshold + 1).collect()
    if len(probe) <= small_graph_threshold:
        return _cc_local(edges.sparkSession, probe)
    # large graph: materialize ONCE so every propagation round joins
    # the checkpointed edge list, not the re-executed pair pipeline
    edges = edges.transform(iter_checkpoint)
    if edges.count() <= 1_000_000:
        edges = edges.coalesce(4)
    # per-round reliable-checkpoint GC (r07 ADVICE): constructed AFTER
    # the edge checkpoint materialized (the count above), so the
    # loop-invariant edge files sit in the rotator's baseline and only
    # superseded label rounds are deleted
    from .checkpointing import CheckpointRotator
    rotator = CheckpointRotator(edges.sparkSession)
    # initialization IS the first propagation round, as a join-free
    # aggregate: with identity labels, round 1's neighbor-min is just
    # min(dst) per src — so seed label = least(id, min neighbor) and
    # start the join loop one round ahead (a star cluster is already
    # converged here and pays exactly one verification round)
    labels = (edges.groupBy("src")
              .agg(F.min("dst").alias("_mn"))
              .select(F.col("src").alias("id"),
                      F.least(F.col("src"), F.col("_mn")).alias("label"))
              .transform(iter_checkpoint))

    # labels are monotonically non-increasing (least of self and
    # neighborhood minima), so the label sum strictly decreases until
    # the fixpoint: an overflow-safe sum comparison detects
    # convergence with one cheap agg job instead of a join per round
    def label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = label_sum(labels)  # also materializes the seed labels
    rotator.rotate()
    for it in range(max_iter):
        if prev_sum is None:  # no edges -> no labels, nothing to iterate
            break
        # candidate label per node: min over neighbors' labels
        neigh = (
            edges.join(labels.withColumnRenamed("id", "dst2"),
                       edges.dst == F.col("dst2"))
            .groupBy("src").agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                F.least(F.col("label"),
                        F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
        )
        # LAZY checkpoint: the convergence agg below is the action that
        # materializes it — one job per round instead of two
        new_labels = new_labels.transform(iter_checkpoint)
        labels = new_labels
        cur_sum = label_sum(labels)
        rotator.rotate()  # round N on disk -> round N-1 files deletable
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def _cc_local(spark, rows) -> DataFrame:
    """Driver-side union-find for BOUNDED collected edge rows (caller
    enforces the threshold): path-halving find, union-by-min so every
    root is its component's minimum id — identical semantics to the
    distributed min-label propagation."""
    from ..session import arrow_local_df, empty_local_df

    if not rows:
        return empty_local_df(spark, "id long, cluster_id long")
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = int(r.src), int(r.dst)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id: the smaller root wins, so roots are
            # component minima without a second normalization pass
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    # JVM-local Arrow relation (session.arrow_local_df), not a
    # parallelized Python collection: createDataFrame(list) spreads the
    # rows over defaultParallelism PYTHON-evaluated partitions, so every
    # downstream consumer (overlay writes, anti-joins, the registry
    # count) pays a 32-task Python round trip for a few hundred rows —
    # the local relation is one Arrow batch on the JVM, values exact
    # (longs through Arrow). r11; the r09 local-relation finding
    # applied to the union-find fast path.
    ids = sorted(parent)
    return arrow_local_df(
        spark, {"id": ids, "cluster_id": [find(x) for x in ids]},
        "id long, cluster_id long")


def partial_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", window: int = 32,
                          stride: int = 24, num_hashes: int = 16,
                          bands: int = 4, shingle_n: int = 3,
                          jaccard_threshold: float = 0.8,
                          method: str = "inverted",
                          max_df: int = 12) -> DataFrame:
    """Doc pairs sharing a near-duplicate SECTION: ``(doc_a, doc_b,
    n_matching_chunks, max_jaccard)``.

    Whole-doc Jaccard dilutes a copied paragraph inside an otherwise
    new document below any usable threshold; chunk-level dedup does
    not. Composition: slide ``window``-token chunks (stride
    ``stride``) over each doc, find near-dup chunk pairs over the
    chunk corpus (chunk count is linear in corpus tokens), then fold
    chunk pairs back to doc pairs, dropping within-doc self-overlap
    (adjacent sliding chunks always share window-stride tokens).

    ``method`` picks the chunk-pair candidate generator:
      * ``"inverted"`` (default) — df-capped postings-list candidates
        (per-shingle combination generation): deterministic, exact recall
        up to the documented ``max_df`` boilerplate cut, and fully
        DuckDB-expressible, so the registered query is value-checked
        end-to-end (promoted rows-only -> oracle in r04).
      * ``"lsh"`` — the fused MinHash-LSH pipeline: fixed bucket-join
        cost, probabilistic recall; the alternative when a corpus's
        shingle df distribution is so heavy that even capped postings
        are too hot. Both paths share the shingle table and verify.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), WS_CLASS)
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(stride))
    chunks = (
        df.filter(F.length(F.trim(text_col)) > 0)
        .select(F.col(id_col), toks.alias("toks"))
        .select(id_col, F.explode(starts).alias("s"), "toks")
        .select(
            F.concat_ws(":", F.col(id_col),
                        ((F.col("s") - 1) / stride).cast("long")).alias("_ck"),
            F.array_join(F.slice(F.col("toks"), F.col("s"), F.lit(window)), " ")
            .alias("_ctext"))
    )
    if method == "lsh":
        cpairs = minhash_lsh_pairs(chunks, "_ck", "_ctext", num_hashes,
                                   bands, shingle_n, jaccard_threshold,
                                   sort=False)
    elif method == "inverted":
        # chunk-corpus postings as per-shingle COMBINATIONS: one
        # groupBy collects each live shingle's <= max_df chunk ids and
        # a codegen'd nested transform emits its C(df,2) pairs — one
        # shuffle by shingle instead of the two-sided self-join, with
        # the df cap bounding every list. Same-doc chunk pairs are cut
        # inline (sliding chunks of one doc overlap by construction
        # and the fold discards them anyway).
        sh_df = _cached_shingle_table(chunks, "_ck", "_ctext", shingle_n)
        ex = sh_df.select(F.col("_ck").alias("_id"), F.explode("sh").alias("_h"))
        posts = (ex.groupBy("_h")
                 .agg(F.collect_list("_id").alias("ids"),
                      F.count("*").alias("_df"))
                 .filter((F.col("_df") >= 2) & (F.col("_df") <= max_df)))
        cands = (posts.select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) -> transform("
            "slice(ids, i + 2, size(ids)), "
            "y -> struct(least(x, y) as id_a, greatest(x, y) as id_b))))"
        )).alias("p"))
            .select("p.id_a", "p.id_b")
            .filter(F.split(F.col("id_a"), ":")[0]
                    != F.split(F.col("id_b"), ":")[0])
            .distinct())
        cpairs = verify_jaccard(cands, sh_df, "_ck", jaccard_threshold,
                                sort=False)
    else:
        raise ValueError(f"unknown method: {method!r}")
    doc_a = F.split(F.col("id_a"), ":")[0].cast("long")
    doc_b = F.split(F.col("id_b"), ":")[0].cast("long")
    return (
        cpairs.select(F.least(doc_a, doc_b).alias("doc_a"),
                      F.greatest(doc_a, doc_b).alias("doc_b"),
                      "jaccard")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_matching_chunks"),
             F.max("jaccard").alias("max_jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def exact_substring_spans(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 32) -> DataFrame:
    """Exact duplicated-substring detection (the suffix-array exact
    dedup of Lee et al. 2022, arXiv:2107.06499, restated for Spark):
    a token span appearing VERBATIM in >= 2 documents is training-set
    leakage the fuzzy (Jaccard) families deliberately smooth over.

    Method: hash every k-token window (stride 1), keep windows whose
    hash occurs in >= 2 distinct docs, then merge each doc's
    duplicated window positions into maximal covered intervals
    (consecutive-or-overlapping positions - gap <= k - fuse, so
    ``n_dup_tokens`` is the EXACT union coverage, never
    double-counted). Returns per-doc ``(n_tokens, n_dup_spans,
    n_dup_tokens, dup_fraction)`` for every non-empty doc.

    Scale: the window explode is one row per token POSITION, but the
    shuffle key is the 8-byte ``xxhash64`` of the span, not the span
    text, so groupBy traffic is ~corpus-token-count x 8 bytes — the
    Spark-sized stand-in for the suffix array (which assumes a shared
    address space). The per-position slice+join+hash does build ~k x
    corpus bytes of TRANSIENT strings pre-shuffle; an O(1)-per-position
    rotate-xor rolling hash over once-hashed tokens was A/B'd against
    it (zip_with chain, sf0.1 warm: 1.01 s vs 0.82 s) and LOST —
    interpreted higher-order-function lambdas cost more than the
    whole-stage-codegen'd string build, so the transient expansion is
    deliberate; revisit only if a measured deployment shows the
    explode stage CPU-bound on string construction. Hash collisions
    (2^-64/pair) could merge two different spans into a false
    duplicate; accepted and caught by the text-grouping DuckDB oracle
    if it ever mattered at test scale.
    One window pass per doc for the interval merge; positions are
    strictly increasing, so overlap-with-union-so-far reduces to
    ``i - lag(i) <= k`` (lag(i) is the max previous position).
    """
    t, w = span_hash_windows(df, id_col, text_col, k)
    dup = (w.groupBy("h")
           .agg(F.count_distinct(F.col(id_col)).alias("nd"))
           .filter(F.col("nd") >= 2))
    pos = w.join(dup.select("h"), "h")
    return dup_span_report(t, pos, id_col, k)


def span_hash_windows(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      k: int = 32) -> tuple[DataFrame, DataFrame]:
    """The span-hashing front half of ``exact_substring_spans``,
    shared with the persisted span store (``dedup_store.commit_spans``
    / ``incremental_spans``) so stored span hashes are definitionally
    consistent with the ad-hoc audit. Returns ``(t, w)``: the per-doc
    token frame ``id | toks | n_tokens`` (every non-empty doc) and the
    window frame ``id | i | h`` — one row per k-token window position,
    ``h`` the 8-byte xxhash64 of the space-joined span.

    ``w`` is lazily lineage-truncated (``iter_checkpoint``): two
    consumers (dup-hash agg + position join) would each re-run the
    k-token slice+join+hash explode — the dominant cost — because the
    agg side partial-aggregates before its exchange and ReuseExchange
    can't unify the two shapes. LAZY, so no job runs at plan build
    time (the r03 ADVICE lifecycle concern)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), WS_CLASS)
    t = (df.filter(F.length(F.trim(text_col)) > 0)
         .select(F.col(id_col), toks.alias("toks"))
         .select(id_col, "toks", F.size("toks").alias("n_tokens")))
    w = (t.filter(F.col("n_tokens") >= k)
         .select(id_col,
                 F.explode(F.sequence(F.lit(1), F.col("n_tokens") - k + 1))
                 .alias("i"), "toks")
         .select(id_col, "i",
                 F.xxhash64(F.array_join(F.slice("toks", F.col("i"), F.lit(k)),
                                         " ")).alias("h"))
         .transform(iter_checkpoint))
    return t, w


def dup_span_report(t: DataFrame, pos: DataFrame, id_col: str = "doc_id",
                    k: int = 32) -> DataFrame:
    """The interval-merge back half of ``exact_substring_spans``:
    given the per-doc token frame ``t`` and the DUPLICATED window
    positions ``pos`` (``id | i``), fuse consecutive-or-overlapping
    positions (gap <= k) into maximal covered intervals and emit the
    per-doc report ``(n_tokens, n_dup_spans, n_dup_tokens,
    dup_fraction)`` for every doc in ``t`` (zeros when no dup span).
    Shared by the ad-hoc audit and the incremental span-store form."""
    win = W.partitionBy(id_col).orderBy("i")
    islands = (
        pos.withColumn(
            "brk",
            F.when(F.lag("i").over(win).isNull()
                   | (F.col("i") - F.lag("i").over(win) > k), 1).otherwise(0))
        .withColumn("grp", F.sum("brk").over(
            win.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy(id_col, "grp")
        .agg((F.max("i") - F.min("i") + k).alias("span_tokens"))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_spans"),
             F.sum("span_tokens").alias("n_dup_tokens"))
    )
    return (
        t.select(id_col, "n_tokens")
        .join(islands, id_col, "left")
        .select(id_col, "n_tokens",
                F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
                F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
                F.round(F.coalesce("n_dup_tokens", F.lit(0))
                        / F.col("n_tokens"), 4).alias("dup_fraction"))
        .orderBy(id_col)
    )
