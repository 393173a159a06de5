"""BPE train/encode contracts (operators/bpe.py): determinism,
lossless segmentation, compression monotonicity, count bounds, and
(since r06, when the encode query was promoted to a pinned-artifact
oracle) the provenance of the frozen merge list — TRAINING is the
part the driver oracle doesn't cover, so its gates live here."""

from __future__ import annotations

from pyspark.sql import functions as F

from hackmd_data_pipeline_spark.operators.bpe import (
    _encode_word,
    bpe_encode_stats,
    train_bpe_merges,
)
from hackmd_data_pipeline_spark.tables import load_table

from .conftest import SF_CORRECT, SF_SMOKE


def test_bpe_training_learns_frequent_pair_first(spark):
    df = spark.createDataFrame(
        [(i, "banana banana banana split") for i in range(3)],
        "doc_id long, text string")
    merges = train_bpe_merges(df, n_merges=3)
    # 'an' and 'na' tie at 6 occurrences; the deterministic
    # lexicographic-max tie-break picks ('n','a'), after which
    # 'banana' collapses na->nana->nana</w>
    assert merges == [("n", "a"), ("na", "na"), ("nana", "</w>")]


def test_bpe_training_is_deterministic(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    assert train_bpe_merges(d, n_merges=32) == train_bpe_merges(d, n_merges=32)


def test_encode_word_is_lossless():
    ranks = {("a", "n"): 0, ("an", "a"): 1, ("b", "an"): 2}
    for w in ("banana", "bandana", "an", "x", ""):
        syms = _encode_word(w, ranks)
        assert "".join(syms) == w + "</w>"


def test_bpe_compression_monotone_in_merges(spark):
    d = load_table(spark, SF_SMOKE, "documents").filter(
        F.length(F.trim("text")) > 0)
    few = train_bpe_merges(d, n_merges=8)
    many = train_bpe_merges(d, n_merges=64)
    assert many[:len(few)] == few  # merge list is prefix-stable
    a = {r.doc_id: r.n_bpe_tokens
         for r in bpe_encode_stats(d, few).collect()}
    b = {r.doc_id: r.n_bpe_tokens
         for r in bpe_encode_stats(d, many).collect()}
    assert all(b[k] <= a[k] for k in a)


def test_bpe_encode_stats_bounds(spark):
    from hackmd_data_pipeline_spark.plans import REGISTRY

    out = REGISTRY["docs_bpe_encode"].builder(spark, SF_SMOKE)
    bad = out.filter((F.col("n_bpe_tokens") < F.col("n_words"))
                     | (F.col("n_words") < 1))
    assert bad.count() == 0


def test_pinned_merge_artifact_provenance(spark):
    """The frozen PINNED_BPE_MERGES literal must be exactly what
    train_bpe_merges learns at sf0.01 — if the testdata generator ever
    changes the corpus, this trips and the artifact gets re-frozen
    (the registry query itself stays pinned either way; this gate is
    about honest provenance, not query semantics)."""
    from hackmd_data_pipeline_spark.operators.bpe import PINNED_BPE_MERGES

    d = load_table(spark, SF_CORRECT, "documents")
    assert train_bpe_merges(d, n_merges=64) == PINNED_BPE_MERGES


def test_encode_cte_oracle_equivalence_hypothesis():
    """The r06 promotion's load-bearing claim, fuzzed beyond the
    corpus: for ARBITRARY word sets and merge lists trained on them,
    the DuckDB recursive-CTE restatement (the docs_bpe_encode oracle's
    enc CTE) produces the same token count per word as the Python
    kernel _encode_word — lowest-rank pair first, leftmost on ties."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from hackmd_data_pipeline_spark.operators.bpe import (
        _END, train_merges_from_word_freq)

    # '|' in the alphabet proves the struct pair-lookup cannot alias
    # merges through token content (the reason the oracle matches on
    # {a, b} structs rather than joined strings)
    words_st = st.lists(
        st.text(alphabet="abcd|", min_size=1, max_size=10),
        min_size=1, max_size=25)

    @settings(max_examples=40, deadline=None)
    @given(words=words_st, n_merges=st.integers(min_value=1, max_value=16))
    def check(words, n_merges):
        wf: dict[tuple[str, ...], int] = {}
        for w in words:
            key = tuple(w) + (_END,)
            wf[key] = wf.get(key, 0) + 1
        merges = train_merges_from_word_freq(wf, n_merges)
        ranks = {p: i for i, p in enumerate(merges)}
        expected = {w: len(_encode_word(w, ranks)) for w in set(words)}

        lit = ("[" + ", ".join("{'a': '%s', 'b': '%s'}" % (a, b)
                               for a, b in merges) + "]"
               ) if merges else "CAST([] AS STRUCT(a VARCHAR, b VARCHAR)[])"
        vocab_lit = ", ".join(f"('{w}')" for w in set(words))
        got = dict(duckdb.sql(f"""
            WITH RECURSIVE vocab(w) AS (
                VALUES {vocab_lit}
            ), enc(w, syms, step) AS (
                SELECT w, list_append(string_split(w, ''), '</w>'), 0 FROM vocab
                UNION ALL
                SELECT w,
                       list_slice(syms, 1, bi - 1)
                         || [syms[bi] || syms[bi + 1]]
                         || list_slice(syms, bi + 2, length(syms)),
                       step + 1
                FROM (SELECT w, syms, step, list_position(rks, best) AS bi
                      FROM (SELECT w, syms, step, rks,
                                   list_min(list_filter(rks, r -> r > 0)) AS best
                            FROM (SELECT w, syms, step,
                                         list_transform(range(1, length(syms)),
                                             i -> list_position({lit},
                                                      {{'a': syms[i], 'b': syms[i + 1]}})) AS rks
                                  FROM enc))
                      WHERE best IS NOT NULL)
            )
            SELECT w, length(syms) AS n_tok
            FROM (SELECT w, syms,
                         ROW_NUMBER() OVER (PARTITION BY w ORDER BY step DESC) AS rn
                  FROM enc)
            WHERE rn = 1
        """).fetchall())
        assert got == expected

    check()
