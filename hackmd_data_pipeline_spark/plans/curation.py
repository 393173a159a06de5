"""Corpus-curation query registrations (round 3): canonical selection,
deterministic splits, stratified sampling, graph ranking, semantic
dedup.

These extend the LLM-training-data operator family (SURVEY.md §2
extension set; the reference pipeline stops at exact-id dedup —
reference src/extract/arxiv_collector.py:123-134). Oracle-checked
where the semantics are ANSI-SQL-expressible — since r06 that
includes SemDeDup via a pinned injectable quantizer; property tests
in tests/test_graph.py and tests/test_similarity.py cover the
k-means/iterative defaults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import fingerprint
from ..functions.scalars import WS_CLASS
from ..operators.dedup import EDITDIST_PAIRS_ORACLE_CTE, _cached_shingle_table
from ..operators.prefix import attach_running_total
from ..tables import load_table
from .registry import query


@query(
    "dedup_keep_best",
    oracle="""
    WITH g AS (
        SELECT md5(LOWER(TRIM(text))) AS fp, doc_id, n_chars
        FROM documents
    ), grp AS (
        SELECT fp,
               CAST(MAX(n_chars) AS BIGINT) AS best_n_chars,
               COUNT(*)                     AS n_copies
        FROM g GROUP BY fp
    )
    SELECT grp.fp,
           MIN(g.doc_id)     AS keeper_doc_id,
           grp.best_n_chars  AS best_n_chars,
           grp.n_copies      AS n_copies
    FROM grp JOIN g ON g.fp = grp.fp AND g.n_chars = grp.best_n_chars
    GROUP BY grp.fp, grp.best_n_chars, grp.n_copies
    ORDER BY grp.fp
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup canonical selection by QUALITY, not min-id: per
    duplicate group keep the LONGEST copy (ties -> smallest id). This
    is the policy real corpus curation uses — near-identical scrapes
    differ by truncation, and the keeper should be the most complete
    one, not whichever id sorted first (contrast
    dedup_exact_fingerprint's min-id rule).

    One shuffle on the 128-bit fingerprint; the argmax is a single
    max_by aggregate (no window, no self-join). The ordering key is a
    STRUCT ``(n_chars, -doc_id)`` — lexicographic struct comparison is
    identical in Spark and DuckDB (``ROW`` comparison), so both engines
    pick the identical keeper with NO assumption about the id range
    (the previous integer-packed score ``n_chars*1e7 - doc_id`` broke
    silently for doc_id ≥ 1e7 — VERDICT r03 "What's wrong" #2)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(fingerprint("text").alias("fp"))
        .agg(
            F.expr("max_by(doc_id, struct(n_chars, -doc_id))")
             .alias("keeper_doc_id"),
            F.max("n_chars").alias("best_n_chars"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("fp")
    )


@query(
    "docs_split_assign",
    oracle="""
    SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'val'
                ELSE 'test' END                     AS split,
           COUNT(*)                                 AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)             AS total_chars,
           COUNT(DISTINCT lang)                     AS n_langs
    FROM documents
    GROUP BY split
    ORDER BY split
    """,
)
def docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split assignment via key modulo — the
    ORACLE-CHECKABLE member of the split family (docs_train_val_test
    _split uses a salted hash for key-uniformity and is rows-only; the
    modulo form trades uniformity-under-clustered-keys for exact
    cross-engine reproducibility). Assignment is a pure projection
    (zero shuffle); the per-split profile is one aggregation.
    Disjointness/coverage hold by construction: every id lands in
    exactly one residue class."""
    d = load_table(spark, sf_dir, "documents")
    split = (F.when(F.pmod("doc_id", F.lit(10)) < 8, "train")
             .when(F.pmod("doc_id", F.lit(10)) == 8, "val")
             .otherwise("test"))
    return (
        d.select(split.alias("split"), "n_chars", "lang")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").alias("total_chars"),
             F.countDistinct("lang").alias("n_langs"))
        .orderBy("split")
    )


@query(
    "docs_sample_stratified",
    oracle="""
    WITH flagged AS (
        SELECT lang, n_chars,
               CASE WHEN doc_id % 10 <
                    (CASE WHEN lang = 'en' THEN 2 ELSE 5 END)
                    THEN 1 ELSE 0 END AS sampled
        FROM documents
    )
    SELECT lang,
           COUNT(*)                                        AS n_total,
           CAST(SUM(sampled) AS BIGINT)                    AS n_sampled,
           ROUND(CAST(SUM(sampled) AS DOUBLE) / COUNT(*), 4) AS frac
    FROM flagged
    GROUP BY lang
    ORDER BY lang
    """,
)
def docs_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified down-sampling with per-stratum rates (the corpus-
    rebalancing primitive: head languages sampled harder than tail
    ones). Deterministic modulo membership makes it oracle-checkable
    AND re-runnable — the same doc is always in or out, so incremental
    pipeline re-runs don't churn the sample. Pure projection + one
    aggregation; at 100 TB the sample predicate pushes into the scan
    and the un-sampled rows never leave the mapper."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 2).otherwise(5)
    sampled = F.when(F.pmod("doc_id", F.lit(10)) < rate, 1).otherwise(0)
    return (
        d.select("lang", sampled.alias("sampled"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_total"),
             F.sum("sampled").alias("n_sampled"),
             F.round(F.sum("sampled").cast("double") / F.count("*"), 4)
              .alias("frac"))
        .orderBy("lang")
    )


@query(
    "graph_pagerank_neardup",
    oracle=f"""
    WITH RECURSIVE {EDITDIST_PAIRS_ORACLE_CTE}, edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), deg AS (
        SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), nn AS (
        SELECT COUNT(*) AS n FROM deg
    ), pr(iter, id, rank) AS (
        SELECT 0, deg.src, CAST(1.0 AS DOUBLE) / nn.n FROM deg, nn
        UNION ALL
        SELECT p.iter + 1, e.dst,
               0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.rank / d.deg)
        FROM pr p JOIN edges e ON e.src = p.id JOIN deg d ON d.src = p.id
        WHERE p.iter < 10
        GROUP BY p.iter, e.dst
    )
    SELECT id AS doc_id, ROUND(rank, 6) AS rank
    FROM pr WHERE iter = 10
    ORDER BY rank DESC, doc_id
    """,
)
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup pair graph: boilerplate/template
    docs (near-matching many well-connected docs) surface as hubs —
    the inspect-or-downweight list a curation pass wants. Edges are
    the bounded-block edit-distance pairs (the same oracle-expressible
    source dedup_cc_clusters and graph_triangle_stats ride); 10 damped
    rounds (operators/graph.py).

    PROMOTED rows-only -> full oracle in r04 (the third graph
    primitive to get one, after CC and triangles): a fixed-iteration
    PageRank is plain arithmetic, so DuckDB reproduces it with an
    iteration-counted recursive CTE — the symmetric edge set means
    every ranked node receives contributions each round, no outer-join
    edge case. Ranks agree to 6 decimals; both engines' ranks are also
    verified against a numpy reference on crafted graphs in
    tests/test_graph.py."""
    from ..operators.dedup import editdistance_pair_edges
    from ..operators.graph import pagerank

    pairs = editdistance_pair_edges(load_table(spark, sf_dir, "documents"))
    return (
        pagerank(pairs)
        .select(F.col("id").alias("doc_id"), F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "doc_id")
    )


# DuckDB restatement of operators.similarity dot/cosine fold
# arithmetic (same helpers as plans/similarity.py — duplicated here
# because the two modules register independently).
_SD_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"
)
# Norm carries the Spark kernels' zero guard (r06 ADVICE — semdedup
# clamps 1e-300 / pinned_centroids 1e-12): a zero embedding must give
# cosine 0 on both engines, never NULL/NaN on the oracle side only.
_SD_NORM = (
    "GREATEST(sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "(acc, v) -> acc + v)), 1e-12)"
)


@query(
    "dedup_semantic_semdedup",
    oracle=f"""
    WITH RECURSIVE cents AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
               embedding AS cvec
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ), scored AS (
        SELECT e.vec_id, c.cell,
               {_SD_DOT.format(a='e.embedding', b='c.cvec')}
               / ({_SD_NORM.format(a='e.embedding')} * {_SD_NORM.format(a='c.cvec')}) AS cos
        FROM embeddings e CROSS JOIN cents c
    ), assigned AS (
        SELECT vec_id, cell, ROUND(cos, 6) AS centroid_cosine
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cos DESC, cell ASC) AS rnk
              FROM scored)
        WHERE rnk = 1
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assigned a
        JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE {_SD_DOT.format(a='ea.embedding', b='eb.embedding')}
              / ({_SD_NORM.format(a='ea.embedding')} * {_SD_NORM.format(a='eb.embedding')}) >= 0.45
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ), comp AS (
        SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ), member AS (
        SELECT a.vec_id, a.cell, a.centroid_cosine,
               CAST(COALESCE(c.cluster_id, a.vec_id) AS BIGINT) AS cluster_id
        FROM assigned a LEFT JOIN comp c ON c.id = a.vec_id
    )
    SELECT vec_id, cell, centroid_cosine, cluster_id,
           (ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY centroid_cosine ASC, vec_id ASC) = 1)
               AS is_kept
    FROM member
    ORDER BY vec_id
    """,
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup THROUGH the shared
    persisted IVF index (r08 VERDICT item 3): quantizer cells ->
    within-cell cosine pairs (vectorized per-cell kernel, never a
    cross-join) -> connected components -> keep the group member
    FARTHEST from its cluster centroid.

    r09 rebuilt the data path onto the deployment shape: the cells
    come from ``ivf_index_data`` (the cell-partitioned index the kNN
    joins already search — built once per dataset with the PINNED
    quantizer injected, the rename-published cache artifact) and the
    quantizer from ``load_ivf_centroids``, so no per-run training and
    no standalone cell-assignment pass — SemDeDup reads the corpus
    once from the index (operators/similarity.py::semdedup_from_index;
    equality with the in-session operator under the same quantizer is
    pinned in tests/test_similarity.py, and the in-session k-means
    default stays the operator default for index-less callers).

    The r06 oracle is unchanged — it pins every semantic given the
    quantizer: fold-arithmetic cosine against the same 16 pinned
    centroids (lowest-id vectors, unit-normalized), ROW_NUMBER argmax
    (ties -> lowest cell, numpy argmax's first-max rule), within-cell
    threshold pairs, recursive-CTE transitive closure with MIN-label,
    keep-farthest window over the ROUNDED cosine. An index whose cell
    assignment, delta resolution, or tombstone filter diverged would
    hash-mismatch.

    Scale: pairwise work confined to cells; CC min-label propagation;
    no full-corpus collect (centroids = kilobyte driver read; the
    pinned quantizer build = bounded 16-row TakeOrdered)."""
    from ..operators.similarity import (
        build_ivf_index,
        pinned_centroids,
        semdedup_from_index,
    )
    from .similarity import _ensure_index, _index_cache_path

    emb = load_table(spark, sf_dir, "embeddings")
    cents = pinned_centroids(emb, k=16)
    dest = _index_cache_path(sf_dir, "semdedup_pinned16")
    _ensure_index(
        emb, dest,
        lambda df, p: build_ivf_index(df, p, nlist=16, centroids=cents),
        ("data", "centroids"))
    return semdedup_from_index(spark, dest, threshold=0.45)


@query(
    "dedup_cc_clusters",
    oracle=f"""
    WITH RECURSIVE {EDITDIST_PAIRS_ORACLE_CTE}, edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    )
    SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id,
           (MIN(r) = id) AS is_canonical
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components with a FULL VALUE ORACLE: the iterative
    dedup_clusters operator (min-label propagation / bounded-graph
    union-find, operators/dedup.py) is gated hard against a DuckDB
    recursive-CTE transitive closure over the SAME oracle-expressible
    pair source (the prefix-blocked edit-distance pairs of
    dedup_editdistance). The LSH-pair CC queries stay rows-only
    because xxhash64 banding is engine-specific; this query pins the
    component-resolution semantics themselves — every id labeled with
    its component's minimum, canonical = label owner — across both
    execution paths."""
    from ..operators.dedup import dedup_clusters

    from ..operators.dedup import editdistance_pair_edges

    edge_pairs = (
        editdistance_pair_edges(load_table(spark, sf_dir, "documents"))
        .select("id_a", "id_b")
    )
    return (
        dedup_clusters(edge_pairs)
        .select(F.col("id").alias("doc_id"), "cluster_id",
                (F.col("id") == F.col("cluster_id")).alias("is_canonical"))
        .orderBy("doc_id")
    )


@query(
    "docs_oov_rate",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, LOWER(t.tok) AS tok
        FROM documents,
             UNNEST(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) AS t(tok)
        WHERE LENGTH(TRIM(text)) > 0 AND LENGTH(t.tok) > 0
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(DISTINCT doc_id) AS df
            FROM toks GROUP BY tok
            ORDER BY df DESC, tok
            LIMIT 64
        )
    ), per_doc AS (
        SELECT t.doc_id, t.lang,
               COUNT(*) AS n_tok,
               CAST(COALESCE(SUM(CASE WHEN v.tok IS NULL THEN 1 END), 0) AS BIGINT) AS n_oov
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           COUNT(*)                                          AS n_docs,
           CAST(SUM(n_tok) AS BIGINT)                        AS total_tokens,
           CAST(SUM(n_oov) AS BIGINT)                        AS total_oov,
           ROUND(CAST(SUM(n_oov) AS DOUBLE) / SUM(n_tok), 4) AS oov_rate
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: per-language out-of-vocabulary rate
    against a document-frequency top-64 vocabulary — the analysis a
    tokenizer-training pipeline runs to size its vocab and find
    under-covered languages. Vocab selection is deterministic
    (df DESC, token ASC tie-break) so both engines pick the identical
    set.

    Scale: one explode + two hash aggregations; the vocab (top-k,
    bounded) joins as a BROADCAST left join, so corpus tokens never
    shuffle for membership — the same bounded-dimension posture as
    docs_decontamination's benchmark side."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = (d.select("doc_id", "lang",
                     F.explode(F.split(F.trim(F.lower("text")), WS_CLASS)).alias("tok"))
            .filter(F.length("tok") > 0))
    vocab = (toks.groupBy("tok")
             .agg(F.countDistinct("doc_id").alias("df"))
             .orderBy(F.desc("df"), "tok").limit(64)
             .select("tok", F.lit(True).alias("_in_vocab")))
    per_doc = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tok"),
             F.coalesce(F.sum(F.when(F.col("_in_vocab").isNull(), 1)), F.lit(0))
              .alias("n_oov"))
    )
    return (
        per_doc.groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").alias("total_tokens"),
             F.sum("n_oov").alias("total_oov"),
             F.round(F.sum("n_oov").cast("double") / F.sum("n_tok"), 4)
              .alias("oov_rate"))
        .orderBy("lang")
    )


@query(
    "docs_shingle_dup_fraction",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([LOWER(t[i]) || ' ' || LOWER(t[i+1]) || ' ' ||
                              LOWER(t[i+2]) || ' ' || LOWER(t[i+3]) || ' ' ||
                              LOWER(t[i+4])
                              FOR i IN range(1, GREATEST(len(t) - 3, 1))]) AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS t
              FROM documents WHERE LENGTH(TRIM(text)) > 0)
        WHERE len(t) >= 5
    ), dsh AS (
        SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
    ), freq AS (
        SELECT shingle, COUNT(*) AS n_docs FROM dsh GROUP BY shingle
    )
    SELECT d.doc_id,
           COUNT(*)                                                      AS n_shingles,
           CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           ROUND(CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4)                                          AS dup_frac
    FROM dsh d JOIN freq f USING (shingle)
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def docs_shingle_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication signal (RefinedWeb/CCNet posture): per
    doc, the fraction of its distinct 5-gram shingles that also occur
    in at least one OTHER document. Whole-doc fingerprints miss
    boilerplate reuse; this is the corpus-wide granular signal that
    feeds 'strip the duplicated spans' curation.

    Scale shape: explode distinct shingle HASHES (8-byte keys, not
    ~30-byte strings), ONE shuffle on the hash for the corpus-wide
    document-frequency count; the join back to per-doc shingles reuses
    the same hash partitioning (no second exchange of the big side),
    then one shuffle on doc_id for the per-doc rollup. Never all-pairs.
    The oracle states the same computation over the literal 5-gram
    strings, so hash-collision-freedom is value-checked too."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    # shared, persisted (doc_id, hashed-5-gram array) intermediate —
    # the same LRU-memoized table the MinHash family builds, so a
    # gate/bench sweep shingles the corpus once, not once per query
    dsh = (_cached_shingle_table(d, "doc_id", "text", 5)
           .select("doc_id", F.explode("sh").alias("shingle")))
    freq = dsh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    shared = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
    return (
        dsh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"),
             shared.alias("n_shared"),
             F.round(shared.cast("double") / F.count("*"), 4).alias("dup_frac"))
        .orderBy("doc_id")
    )


@query(
    "text_gopher_rules",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, text,
               regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    ), m AS (
        SELECT doc_id, lang,
               len(t) AS n_words,
               CAST(list_sum([LENGTH(x) FOR x IN t]) AS DOUBLE) / len(t) AS mwl,
               CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                   / len(t) AS frac_alpha,
               CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
                   / len(t) AS symr,
               len(regexp_extract_all(LOWER(text),
                   '\\b(the|be|to|of|and|that|have|with)\\b')) AS n_stop
        FROM base
    )
    SELECT doc_id, lang,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(mwl, 4)           AS mean_word_len,
           ROUND(frac_alpha, 4)    AS frac_alpha_words,
           ROUND(symr, 4)          AS symbol_ratio,
           CAST(n_stop AS BIGINT)  AS n_stopwords,
           CASE WHEN n_words >= 50 AND n_words <= 100000
                 AND mwl >= 3 AND mwl <= 10
                 AND symr < 0.1 AND frac_alpha > 0.8 AND n_stop >= 2
                THEN 'keep' ELSE 'flag' END AS gopher_bucket
    FROM m ORDER BY doc_id
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality-rule battery (Rae et al. 2021,
    arXiv:2112.11446 §A1.1) as ONE single-pass projection: word-count
    bounds, mean-word-length band [3,10], symbol-to-word ratio
    ('#'/'...'), alphabetic-word fraction > 0.8, and the >=2-stopword
    rule — the canonical pre-training document filter
    (text_quality_score covers the C4-ish ratios; this is the Gopher
    set proper). Pure codegen'd expressions over one narrow scan: no
    shuffle, no UDF; at 100 TB this runs at I/O speed. Flags are
    computed on the UNROUNDED doubles in both engines (identical IEEE
    arithmetic), the reported ratios are rounded for the hash gate."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.col("text")), WS_CLASS)
    n_words = F.size(toks)
    mwl = (F.aggregate(F.transform(toks, lambda x: F.length(x)),
                       F.lit(0), lambda acc, x: acc + x)
           .cast("double") / n_words)
    frac_alpha = (F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
                  .cast("double") / n_words)
    symr = (F.size(F.regexp_extract_all(F.col("text"), F.lit(r"#|\.\.\."), F.lit(0)))
            .cast("double") / n_words)
    n_stop = F.size(F.regexp_extract_all(
        F.lower(F.col("text")),
        F.lit(r"\b(the|be|to|of|and|that|have|with)\b"), F.lit(0)))
    keep = ((n_words >= 50) & (n_words <= 100000)
            & (mwl >= 3) & (mwl <= 10)
            & (symr < 0.1) & (frac_alpha > 0.8) & (n_stop >= 2))
    return (
        d.select(
            "doc_id", "lang",
            n_words.cast("long").alias("n_words"),
            F.round(mwl, 4).alias("mean_word_len"),
            F.round(frac_alpha, 4).alias("frac_alpha_words"),
            F.round(symr, 4).alias("symbol_ratio"),
            n_stop.cast("long").alias("n_stopwords"),
            F.when(keep, "keep").otherwise("flag").alias("gopher_bucket"),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_token_budget_select",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tok
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    ), ranked AS (
        SELECT lang, n_tok,
               SUM(n_tok) OVER (ORDER BY n_chars DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_tok,
               SUM(n_tok) OVER () AS total_tok
        FROM toks
    )
    SELECT lang,
           COUNT(*)                   AS n_docs_selected,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_selected
    FROM ranked
    WHERE cum_tok - n_tok < 0.5 * total_tok
    GROUP BY lang ORDER BY lang
    """,
)
def docs_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection (the data-constrained-training
    primitive, cf. Muennighoff et al. 2023 arXiv:2305.16264): rank
    docs by a quality proxy (n_chars DESC, doc_id tiebreak) and keep
    the prefix whose cumulative token count stays under 50% of the
    corpus token budget; report the per-language profile of the
    selected set.

    The oracle's ``SUM() OVER (ORDER BY ...)`` is a single-reducer
    plan at scale; the Spark side instead uses the factored
    distributed prefix sum (operators/prefix.py::attach_running_total
    — range repartition + bounded stats window + broadcast offsets,
    same two-pass shape as orders_pareto_customers), so the global
    running total is computed by ALL tasks in parallel and the oracle
    value-checks the rewrite."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = d.select("doc_id", "lang", "n_chars",
                    F.size(F.split(F.trim(F.col("text")), WS_CLASS)).alias("n_tok"))
    ranked = attach_running_total(
        toks, "n_tok", [F.desc("n_chars"), F.col("doc_id")],
        cum_col="cum_tok", total_col="total_tok")
    return (
        ranked.filter(F.col("cum_tok") - F.col("n_tok") < 0.5 * F.col("total_tok"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs_selected"),
             F.sum("n_tok").alias("tokens_selected"))
        .orderBy("lang")
    )


@query(
    "docs_snapshot_diff",
    oracle="""
    WITH old_snap AS (
        SELECT doc_id, md5(text) AS fp FROM documents
    ), new_snap AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END) AS fp
        FROM documents WHERE doc_id % 13 <> 0
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, md5(text) AS fp
        FROM documents WHERE doc_id % 19 = 0
    ), j AS (
        SELECT o.doc_id AS old_id, n.doc_id AS new_id, o.fp AS ofp, n.fp AS nfp
        FROM old_snap o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id
    )
    SELECT CASE WHEN old_id IS NULL THEN 'added'
                WHEN new_id IS NULL THEN 'removed'
                WHEN ofp <> nfp THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n_rows
    FROM j GROUP BY change_type ORDER BY change_type
    """,
)
def docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the dataset-regression audit every managed
    corpus needs before promoting a new build: classify every key as
    added / removed / changed / unchanged between two corpus versions
    by FULL OUTER joining content fingerprints on the key. (Also the
    registry's full-outer member — §2.H now exercises inner, left,
    full, semi, and anti.) The 'new' snapshot is derived from the same
    table by deterministic modulo edits (drops, text mutations, id
    remaps), so both engines diff identical inputs.

    Scale shape: fingerprints reduce each side to (key, 16-byte hash)
    before the join — the shuffle moves hashes, not documents; the
    full outer join is a key-partitioned equi-join (bucketed layout
    makes it shuffle-free when both snapshots share it), and the
    classification is a post-join projection aggregated per class."""
    d = load_table(spark, sf_dir, "documents")
    old_snap = d.select("doc_id", F.md5("text").alias("fp"))
    mutated = F.when(F.col("doc_id") % 17 == 0,
                     F.concat(F.col("text"), F.lit(" v2"))).otherwise(F.col("text"))
    new_snap = (
        d.filter(F.col("doc_id") % 13 != 0)
        .select("doc_id", F.md5(mutated).alias("fp"))
        .unionAll(
            d.filter(F.col("doc_id") % 19 == 0)
            .select((F.col("doc_id") + 10000000).alias("doc_id"),
                    F.md5("text").alias("fp")))
    )
    j = (old_snap.withColumnRenamed("fp", "ofp").withColumnRenamed("doc_id", "old_id")
         .join(new_snap.withColumnRenamed("fp", "nfp")
               .withColumnRenamed("doc_id", "new_id"),
               F.col("old_id") == F.col("new_id"), "full_outer"))
    change = (F.when(F.col("old_id").isNull(), "added")
              .when(F.col("new_id").isNull(), "removed")
              .when(F.col("ofp") != F.col("nfp"), "changed")
              .otherwise("unchanged"))
    return (
        j.select(change.alias("change_type"))
        .groupBy("change_type").agg(F.count("*").alias("n_rows"))
        .orderBy("change_type")
    )


@query(
    "docs_bpe_pair_counts",
    oracle="""
    WITH words AS (
        SELECT UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS w
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    ), pairs AS (
        SELECT UNNEST([w[i:i+1] FOR i IN range(1, GREATEST(LENGTH(w), 1))]) AS pair
        FROM words WHERE LENGTH(w) >= 2
    )
    SELECT pair, COUNT(*) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
)
def docs_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE tokenizer-training primitive (Sennrich et al. 2016,
    arXiv:1508.07909): corpus-wide adjacent-symbol pair counts — the
    statistic each BPE merge iteration maximizes (here the first
    iteration, over raw characters; docs_vocabulary_topk covers the
    word-level vocab scan). Top-20 with a deterministic (count DESC,
    pair) tie-break.

    Scale shape: explode is linear in corpus characters; the pair key
    space is tiny (alphabet²), so the count aggregation is map-side
    partial + a near-constant shuffle, and the top-k is
    TakeOrderedAndProject — no global sort. The full BPE loop would
    re-run this per merge on re-paired tokens; each iteration stays
    this same one-shuffle shape."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    words = (d.select(F.explode(
                F.split(F.trim(F.lower(F.col("text"))), WS_CLASS)).alias("w"))
             .filter(F.length("w") >= 2))
    pairs = words.select(F.explode(
        F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
    ).alias("pair"))
    return (
        pairs.groupBy("pair").agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )


@query(
    "graph_triangle_stats",
    oracle=f"""
    WITH {EDITDIST_PAIRS_ORACLE_CTE}, e AS (
        SELECT id_a AS u, id_b AS v FROM pairs
    ), deg AS (
        SELECT node, COUNT(*) AS deg
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node
    ), tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.v = e2.u
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ), wed AS (
        SELECT COUNT(*) AS n_nodes,
               CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0) AS BIGINT) AS n_wedges
        FROM deg
    )
    SELECT wed.n_nodes,
           (SELECT COUNT(*) FROM e)  AS n_edges,
           wed.n_wedges,
           tri.n_triangles,
           ROUND(3.0 * tri.n_triangles / GREATEST(wed.n_wedges, 1), 4)
               AS global_clustering
    FROM tri, wed
    """,
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the
    near-dup graph (edges = the oracle-expressible prefix-blocked
    edit-distance pairs, same source dedup_cc_clusters gates on) —
    the third distributed-graph primitive after connected components
    and PageRank, and the standard transitivity audit for a dedup
    pair set (near-dup relations SHOULD be highly transitive; a low
    coefficient flags a blocking scheme emitting spurious pairs).

    Scale shape: the classic ordered-orientation distributed triangle
    count — edges kept as u < v, so each triangle is counted exactly
    once by two equi-joins (path u->v->w closed by edge (u,w)); no
    enumeration of per-node neighbor cross-products, no cartesian.
    Degrees/wedges are one union + aggregation; the 1-row scalar
    aggregates (edge count, wedge sum, triangle count) combine by
    broadcast."""
    from ..operators.dedup import editdistance_pair_edges
    e = (editdistance_pair_edges(load_table(spark, sf_dir, "documents"))
         .select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
         # materialize the edge relation ONCE: six consumers (degree
         # union x2, wedge agg, three triangle join legs) would each
         # re-run the within-block levenshtein join otherwise
         # (measured 6x cost at 10x corpus); the edge list itself is
         # tiny relative to the corpus
         .localCheckpoint())

    deg = (e.select(F.col("u").alias("node"))
           .unionAll(e.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    wed = deg.agg(F.count("*").alias("n_nodes"),
                  F.coalesce(F.expr("sum(deg * (deg - 1) div 2)"),
                             F.lit(0)).alias("n_wedges"))
    n_edges = e.agg(F.count("*").alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (e1.join(e2, F.col("e1.v") == F.col("e2.u"))
           .join(e3, (F.col("e3.u") == F.col("e1.u"))
                 & (F.col("e3.v") == F.col("e2.v")))
           .agg(F.count("*").alias("n_triangles")))
    return (
        wed.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                F.round(F.lit(3.0) * F.col("n_triangles")
                        / F.greatest(F.col("n_wedges"), F.lit(1)), 4)
                 .alias("global_clustering"))
    )


@query(
    "docs_lm_perplexity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    ), bg AS (
        SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        FROM toks, UNNEST(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
    ), big_counts AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
    ), uni_counts AS (
        SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1
    ), vocab AS (
        SELECT COUNT(DISTINCT u.w) AS v FROM (
            SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg) u
    )
    SELECT b.doc_id,
           COUNT(*)                                   AS n_bigrams,
           ROUND(AVG(LN(CAST(bc.c12 + 1 AS DOUBLE)
                        / (uc.c1 + vocab.v))), 4)     AS avg_logp
    FROM bg b
    JOIN big_counts bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
    JOIN uni_counts uc ON uc.w1 = b.w1
    CROSS JOIN vocab
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def docs_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring — the CCNet/KenLM perplexity
    filter (Wenzek et al. 2020, arXiv:1911.00359) re-expressed as
    pure relational algebra: estimate an add-one-smoothed BIGRAM
    model from the corpus itself, then score every document by its
    mean log-probability under that model (low = out-of-distribution
    gibberish, the classic pre-training quality signal; LN arithmetic
    is identical IEEE in both engines, so the score is fully
    oracle-checkable — no external LM binary, no UDF).

    Scale shape: bigram explode is linear in corpus tokens; the model
    'fit' is two partial-aggregated counts (bigram, unigram); scoring
    re-joins the exploded bigrams to both count tables on their
    natural keys (shuffles partitioned by bigram/w1 — at 100 TB the
    count tables are Zipf-skewed, which AQE's skew-join handles, or
    pre-salt the head via operators/skew.py); the vocab size is a
    1-row broadcast scalar."""
    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.lower(F.trim(F.col("text"))), WS_CLASS)
    bg = (d.filter(F.size(toks) >= 2)
          .select("doc_id", toks.alias("t"))
          .select("doc_id", F.explode(F.expr(
              "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
              " (a, b) -> struct(a, b))")).alias("p"))
          .select("doc_id", F.col("p.a").alias("w1"), F.col("p.b").alias("w2")))
    big_counts = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni_counts = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (bg.select(F.col("w1").alias("w"))
             .unionAll(bg.select(F.col("w2").alias("w")))
             .agg(F.countDistinct("w").alias("v")))
    logp = F.ln((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")))
    return (
        bg.join(big_counts, ["w1", "w2"])
        .join(uni_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"),
             F.round(F.avg(logp), 4).alias("avg_logp"))
        .orderBy("doc_id")
    )


from ..operators.redaction import pii_scrub_oracle_sql, scrub_documents  # noqa: E402


@query("docs_pii_scrub", oracle=pii_scrub_oracle_sql())
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / sensitive-term redaction report (operators/redaction.py):
    emails, national-id shapes, IPv4s, phone shapes, and a
    deployment-configurable term list replaced with typed tags; per-doc
    hit counts + scrubbed-text digest. The corpus-hygiene step every
    shipped training set runs before packing.

    Fully oracled from a single shared pattern table (the DuckDB SQL is
    GENERATED from the same patterns the Spark plan compiles — one
    source of truth). Plan shape: one narrow codegen'd projection over
    the scan, zero shuffles; scales with scan bandwidth."""
    d = load_table(spark, sf_dir, "documents")
    return (
        scrub_documents(d)
        .select("doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone", "n_term",
                "n_redactions", "scrubbed_md5", "scrubbed_len")
        .orderBy("doc_id")
    )


from .oracle_helpers import exact_substring_oracle  # noqa: E402


@query(
    "docs_exact_substring_dedup",
    oracle=exact_substring_oracle(k=32),
)
def docs_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring audit (operators/dedup.py::
    exact_substring_spans) — the verbatim-leakage detector of Lee et
    al. 2022 (arXiv:2107.06499) the fuzzy families can't express: any
    32-token span appearing in >= 2 docs, merged per doc into maximal
    covered intervals with EXACT union token coverage. The third leg
    of the dedup triad (exact whole-doc / fuzzy chunk / exact
    substring).

    Spark shuffles 8-byte span hashes (never span text); the oracle
    groups by the span text itself, so a hash collision would surface
    as a gate mismatch rather than hide."""
    from ..operators.dedup import exact_substring_spans
    d = load_table(spark, sf_dir, "documents")
    return exact_substring_spans(d, k=32)


# -------------------------------------------------------------------- #
# Multilingual temperature sampling (r05 continuation)                  #
# -------------------------------------------------------------------- #

from .oracle_helpers import _unsigned, hashlong_steps  # noqa: E402

_TS_SCALE = 1 << 20  # hash-bucket granularity (power of two: exact scaling)

_ts_steps, _ts_h = hashlong_steps(
    "ts", _unsigned("doc_id"), 42, "tdocs", keep="doc_id, lang")
_TS_STEPS_SQL = ",\n".join(_ts_steps)

_TEMPERATURE_ORACLE = f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), mn AS (
    SELECT MIN(n_docs) AS n_min, SUM(n_docs) AS n_total FROM counts
), rates AS (
    SELECT lang, n_docs,
           SQRT(CAST(mn.n_min AS DOUBLE) / n_docs) AS rate,
           CAST(FLOOR(SQRT(CAST(mn.n_min AS DOUBLE) / n_docs) * {_TS_SCALE})
                AS BIGINT) AS thr
    FROM counts, mn
), tdocs AS (
    SELECT doc_id, lang FROM documents
), {_TS_STEPS_SQL},
buckets AS (
    SELECT lang, CAST({_ts_h} % {_TS_SCALE} AS BIGINT) AS bucket FROM tsc
), kept AS (
    SELECT b.lang, COUNT(*) FILTER (WHERE b.bucket < r.thr) AS n_kept
    FROM buckets b JOIN rates r USING (lang) GROUP BY b.lang
), tot AS (
    SELECT SUM(n_kept) AS total_kept FROM kept
)
SELECT r.lang, r.n_docs, k.n_kept,
       ROUND(r.rate, 6) AS rate,
       ROUND(r.n_docs / CAST(mn.n_total AS DOUBLE), 6) AS share_before,
       ROUND(k.n_kept / CAST(tot.total_kept AS DOUBLE), 6) AS share_after
FROM rates r
JOIN kept k USING (lang), mn, tot
ORDER BY lang
"""


@query("docs_temperature_sample", oracle=_TEMPERATURE_ORACLE)
def docs_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual temperature sampling (XLM, arXiv:1901.07291 §3.1;
    the mC4 recipe): flatten the language distribution toward
    p_l^alpha so high-resource languages stop drowning the tail. With
    alpha = 0.5 the per-language keep rate reduces to
    ``sqrt(n_min / n_l)`` (rarest language keeps everything), and the
    keep DECISION is a deterministic hash threshold —
    ``pmod(xxhash64(doc_id), 2^20) < floor(rate * 2^20)`` — so the
    sample is reproducible, stable under reruns, and needs no
    shuffle beyond one groupBy(lang) count (the per-doc verdict is a
    broadcast join + codegen'd comparison; the same posture as
    docs_split_assign).

    alpha is PINNED at 0.5 deliberately: the rate then involves only
    correctly-rounded IEEE ops (divide, sqrt, scaling by a power of
    two), so Spark and DuckDB compute bit-identical thresholds —
    pow() with a free exponent differs across libms in the last ulp,
    which could flip a boundary bucket. The oracle restates the
    whole derivation including every hash decision (hashlong
    restatement on doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    mn = counts.agg(F.min("n_docs").alias("n_min"),
                    F.sum("n_docs").alias("n_total"))
    rates = (counts.crossJoin(F.broadcast(mn))
             .withColumn("rate", F.sqrt(F.col("n_min").cast("double")
                                        / F.col("n_docs")))
             .withColumn("thr", F.floor(F.col("rate") * F.lit(float(_TS_SCALE)))))
    docs = d.select("lang",
                    F.pmod(F.xxhash64("doc_id"), F.lit(_TS_SCALE)).alias("bucket"))
    kept = (docs.join(F.broadcast(rates), "lang")
            .groupBy("lang")
            .agg(F.first("n_docs").alias("n_docs"),
                 F.sum(F.when(F.col("bucket") < F.col("thr"), 1)
                       .otherwise(0)).alias("n_kept"),
                 F.first("rate").alias("_rate"),
                 F.first("n_total").alias("_n_total")))
    tot = kept.agg(F.sum("n_kept").alias("_total_kept"))
    return (
        kept.crossJoin(F.broadcast(tot))
        .select("lang", "n_docs", "n_kept",
                F.round("_rate", 6).alias("rate"),
                F.round(F.col("n_docs") / F.col("_n_total").cast("double"), 6)
                .alias("share_before"),
                F.round(F.col("n_kept") / F.col("_total_kept").cast("double"), 6)
                .alias("share_after"))
        .orderBy("lang")
    )


from .oracle_helpers import _signed  # noqa: E402

_lss_steps, _lss_h = hashlong_steps(
    "lss", _unsigned("cluster_id"), 42, "tdoc", keep="doc_id, cluster_id")
_LSS_STEPS_SQL = ",\n".join(_lss_steps)
_LSS_BUCKET = f"((({_signed(_lss_h)}) % 10 + 10) % 10)"

_LEAKAGE_SAFE_ORACLE = f"""
WITH g AS (
    SELECT doc_id, md5(LOWER(TRIM(text))) AS fp FROM documents
), cl AS (
    SELECT fp, MIN(doc_id) AS cluster_id FROM g GROUP BY fp
), tdoc AS (
    SELECT g.doc_id, cl.cluster_id FROM g JOIN cl USING (fp)
), {_LSS_STEPS_SQL}
SELECT doc_id, cluster_id,
       CASE WHEN {_LSS_BUCKET} < 8 THEN 'train'
            WHEN {_LSS_BUCKET} = 8 THEN 'val'
            ELSE 'test' END AS split,
       doc_id = cluster_id AS is_cluster_rep
FROM lssc
ORDER BY doc_id
"""


@query("docs_leakage_safe_split", oracle=_LEAKAGE_SAFE_ORACLE)
def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by DUPLICATE
    CLUSTER, not by document. Hashing doc ids (docs_split_assign /
    docs_train_val_test_split) lets two copies of the same text land
    in train AND test — the classic eval-contamination bug; here the
    split key is the cluster representative (min doc id per exact
    content fingerprint), so an entire duplicate group moves as one
    unit and cross-split leakage of identical content is impossible
    BY CONSTRUCTION, not by decontamination after the fact.

    Plan: one shuffle on the md5 fingerprint to resolve clusters, one
    fingerprint-keyed join back (at 100 TB both are the same
    exact-dedup shuffle the corpus already pays — the split falls out
    of artifacts the pipeline has), then a codegen'd xxhash64-mod-10
    projection. Fully value-oracled: md5 clusters + the hashlong
    restatement reproduce every assignment decision."""
    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint("text").alias("fp")
    clusters = (d.select(fp, "doc_id")
                .groupBy("fp").agg(F.min("doc_id").alias("cluster_id")))
    bucket = F.pmod(F.xxhash64("cluster_id"), F.lit(10))
    split = (F.when(bucket < 8, "train")
             .when(bucket == 8, "val").otherwise("test"))
    return (
        d.select("doc_id", fp).join(clusters, "fp")
        .select("doc_id", "cluster_id", split.alias("split"),
                (F.col("doc_id") == F.col("cluster_id")).alias("is_cluster_rep"))
        .orderBy("doc_id")
    )


_SOURCE_REP_ORACLE = """
WITH base AS (
    SELECT source, doc_id, md5(LOWER(TRIM(text))) AS fp,
           len(regexp_split_to_array(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tok,
           len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is)\\b')) AS n_stop
    FROM documents WHERE LENGTH(TRIM(text)) > 0
), fpc AS (
    SELECT fp, COUNT(*) AS n_copies FROM base GROUP BY fp
), scored AS (
    SELECT b.source,
           CASE WHEN b.n_tok >= 20 AND CAST(b.n_stop AS DOUBLE) / b.n_tok > 0.05
                THEN 0 ELSE 1 END AS flagged,
           CASE WHEN f.n_copies > 1 THEN 1 ELSE 0 END AS dup,
           b.n_tok
    FROM base b JOIN fpc f USING (fp)
)
SELECT source,
       COUNT(*) AS n_docs,
       ROUND(AVG(CAST(flagged AS DOUBLE)), 4) AS flag_rate,
       ROUND(AVG(CAST(dup AS DOUBLE)), 4) AS dup_rate,
       ROUND(AVG(CAST(n_tok AS DOUBLE)), 2) AS mean_tokens,
       CASE WHEN AVG(CAST(flagged AS DOUBLE)) > 0.5
              OR AVG(CAST(dup AS DOUBLE)) > 0.5
            THEN 'block' ELSE 'keep' END AS verdict
FROM scored
GROUP BY source
ORDER BY source
"""


@query("docs_source_reputation", oracle=_SOURCE_REP_ORACLE)
def docs_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level reputation rollup (the data-driven form of C4/
    RefinedWeb domain blocklists): per source, the share of docs
    failing the quality keep-rule, the share that are exact
    duplicates corpus-wide, and mean length — folded into a
    keep/block verdict. At 100 TB this is how a crawl curates by
    DOMAIN rather than document-by-document: one quality projection,
    one fingerprint-count join (the exchange exact dedup already
    pays), one groupBy(source) — and the resulting blocklist then
    prunes whole partitions of future crawls at the scan."""
    from ..functions import tokens as _tokens

    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0)
    n_tok = F.size(_tokens("text"))
    n_stop = F.size(F.regexp_extract_all(
        F.col("text"), F.lit("\\b(the|a|of|and|to|in|is)\\b"), F.lit(0)))
    stop_ratio = n_stop.cast("double") / n_tok
    base = d.select("source", fingerprint("text").alias("fp"),
                    n_tok.alias("n_tok"),
                    F.when((n_tok >= 20) & (stop_ratio > 0.05), 0)
                    .otherwise(1).alias("flagged"))
    fpc = base.groupBy("fp").agg(F.count("*").alias("n_copies"))
    scored = (base.join(fpc, "fp")
              .select("source", "flagged", "n_tok",
                      F.when(F.col("n_copies") > 1, 1).otherwise(0)
                      .alias("dup")))
    flag_rate = F.avg(F.col("flagged").cast("double"))
    dup_rate = F.avg(F.col("dup").cast("double"))
    return (
        scored.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.round(flag_rate, 4).alias("flag_rate"),
             F.round(dup_rate, 4).alias("dup_rate"),
             F.round(F.avg(F.col("n_tok").cast("double")), 2)
             .alias("mean_tokens"),
             F.when((flag_rate > 0.5) | (dup_rate > 0.5), "block")
             .otherwise("keep").alias("verdict"))
        .orderBy("source")
    )


from ..operators.dsir import DSIR_BUCKETS, PINNED_DSIR_WEIGHTS, dsir_select  # noqa: E402
from .oracle_helpers import xxh64_string_ctes  # noqa: E402

_dsir_frag, _dsir_out = xxh64_string_ctes("dbg", "s", "s", prefix="ds")


def _dsir_oracle(artifact: list[tuple[int, int]],
                 keep_frac: float = 0.25,
                 buckets: int = DSIR_BUCKETS) -> str:
    """DuckDB restatement of dsir_select: identical split/bigram
    construction, the bit-exact xxh64 bucket hash over DISTINCT
    bigrams (hashed once, joined back to occurrences), exact int64
    importance sums, IEEE int64/int64 ranking division, and the
    running-token-budget cut. ``buckets`` divides 2**64, so DuckDB's
    unsigned ``h % B`` equals Spark's ``pmod(xxhash64, B)``."""
    values = ", ".join(f"({b}, {w})" for b, w in artifact)
    return f"""
    WITH docs AS (
        SELECT doc_id, lang,
               regexp_split_to_array(LOWER(TRIM(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
        FROM documents WHERE LENGTH(TRIM(text)) > 0
    ), toks AS (
        SELECT doc_id, lang, len(t) AS n_tok, t FROM docs
    ), bgs AS (
        SELECT doc_id,
               UNNEST([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS s
        FROM toks WHERE len(t) >= 2
    ), dbg AS MATERIALIZED (
        SELECT DISTINCT s FROM bgs
    ), {_dsir_frag},
    pin(bucket, weight_micros) AS (VALUES {values}),
    bw AS (
        SELECT d.s, p.weight_micros
        FROM {_dsir_out} d
        JOIN pin p ON CAST(d.h % {buckets} AS INTEGER) = p.bucket
    ), scored AS (
        SELECT b.doc_id,
               CAST(SUM(w.weight_micros) AS BIGINT) AS importance_micros,
               COUNT(*) AS n_bg
        FROM bgs b JOIN bw w USING (s) GROUP BY b.doc_id
    ), ranked AS (
        SELECT t.lang, t.n_tok, s.importance_micros,
               SUM(t.n_tok) OVER (ORDER BY s.importance_micros / s.n_bg DESC,
                                  t.doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum_tok,
               SUM(t.n_tok) OVER () AS total_tok
        FROM scored s JOIN toks t USING (doc_id)
    )
    SELECT lang, COUNT(*) AS n_docs_selected,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_selected,
           CAST(SUM(importance_micros) AS BIGINT) AS importance_sum
    FROM ranked WHERE cum_tok - n_tok < {keep_frac} * total_tok
    GROUP BY lang ORDER BY lang
    """


@query("docs_dsir_select", oracle=_dsir_oracle(PINNED_DSIR_WEIGHTS))
def docs_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (Xie et al. 2023,
    arXiv:2302.03169; r08): per-doc importance = exact int64 sum of
    PINNED hashed-bigram bucket log-ratios (target = en-labeled
    sf0.01 docs vs the raw corpus, 256 xxhash64 buckets — the frozen
    artifact in operators/dsir.py, provenance-tested), then a
    token-budget selection keeping the highest importance-per-bigram
    prefix (25% of scored tokens) via the factored distributed prefix
    sum — the informed-sampling counterpart of the heuristic
    docs_token_budget_select. Per-lang selection profile out; the
    oracle restates the ENTIRE pipeline bit-exactly, xxh64 bucketing
    included.

    Scale: one corpus scan -> bigram explode (JVM codegen) ->
    constant 248-row broadcast -> ONE shuffle on doc_id; selection
    adds the prefix-sum's range exchange. No UDF, no float in the
    importance path (the ranking division is IEEE-identical on both
    engines)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0)
    return dsir_select(d, PINNED_DSIR_WEIGHTS, keep_frac=0.25)
