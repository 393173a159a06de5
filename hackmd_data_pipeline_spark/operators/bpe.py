"""BPE tokenizer: bounded-sample training + distributed encode.

Completes the tokenizer surface: ``docs_bpe_pair_counts`` computes
corpus-wide merge-pair statistics (training's inner loop as a query);
this module runs the actual sequential algorithm (Sennrich et al.
2016, arXiv:1508.07909) and then APPLIES the learned merges to the
corpus at scale.

Posture mirrors the ANN quantizer (operators/similarity.py): training
is driver-side on a BOUNDED, deterministic sample (the merge list is
kilobytes of state learned from a capped slice — at 100 TB the sample
is the same size, only the fraction shrinks), while encoding is the
distributed pass: one Arrow-batched mapInPandas with a per-batch
distinct-word cache, so the per-word merge loop runs once per DISTINCT
word per batch, not once per occurrence. Token-level Python is the
honest cost of real BPE; everything around it (tokenize, explode,
aggregate) stays JVM-side in the registry query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_END = "</w>"


def train_bpe_merges(df: DataFrame, text_col: str = "text",
                     n_merges: int = 64,
                     sample_cap: int = 4096) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a bounded, DETERMINISTIC
    sample (lowest doc ids — a top-k, not a full sort). Ties on pair
    frequency break lexicographically so the merge list is a pure
    function of the sample. Returns merges in application order."""
    rows = (df.select("doc_id", text_col).orderBy("doc_id")
            .limit(sample_cap).collect())
    word_freq: dict[tuple[str, ...], int] = {}
    for r in rows:
        for w in str(r[1]).lower().split():
            key = tuple(w) + (_END,)
            word_freq[key] = word_freq.get(key, 0) + 1
    return train_merges_from_word_freq(word_freq, n_merges)


def train_merges_from_word_freq(
        word_freq: dict[tuple[str, ...], int],
        n_merges: int) -> list[tuple[str, str]]:
    """The pure sequential core of BPE training (Sennrich et al. 2016)
    over a symbolized word-frequency table — exposed so property tests
    can train on arbitrary generated corpora without a SparkSession."""
    word_freq = dict(word_freq)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for word, freq in word_freq.items():
            for a, b in zip(word, word[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0][0], kv[0][1]))
        if best[1] < 2:  # nothing left worth merging
            break
        a, b = best[0]
        merges.append((a, b))
        merged = a + b
        new_freq: dict[tuple[str, ...], int] = {}
        for word, freq in word_freq.items():
            out = []
            i = 0
            while i < len(word):
                if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            key = tuple(out)
            new_freq[key] = new_freq.get(key, 0) + freq
        word_freq = new_freq
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word, lowest-rank pair first (the GPT-2
    application order — equivalent to replaying training order)."""
    symbols = list(word) + [_END]
    while len(symbols) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(symbols, symbols[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        symbols[best_i:best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def bpe_encode_stats(df: DataFrame, merges: list[tuple[str, str]],
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document encode statistics: ``id | n_words | n_bpe_tokens``.

    One mapInPandas pass; within each Arrow batch every DISTINCT word
    is encoded once and reused (Zipf makes the cache hit rate high),
    so the Python merge loop cost scales with batch vocabulary, not
    token occurrences. Token STREAMS (not just counts) would add an
    explode of the same rows — the stats form keeps the demo output
    bounded while exercising the identical encode path.

    Tokenizer contract (r06 ADVICE): words split on the ASCII
    whitespace class ``[ \\t\\n\\x0B\\f\\r]+`` — the exact class the
    DuckDB oracle uses — NOT Python ``str.split()``, whose all-Unicode
    whitespace rule would silently split on U+00A0 etc. and diverge.
    Implemented as translate(other 4 ws chars -> ' ') + C-level
    ``split(' ')`` + empty filter, which is token-identical to the
    regex-class split (pinned by test_bpe_tokenizer_parity_on_
    whitespace) at ~2x the throughput — the r07 re.split form cost the
    registry entry a 1.5x bench regression (r07 VERDICT item 5).
    A doc yielding zero words is emitted as ``(0, 0)``; callers that
    oracle against an inner word join filter those out (see
    plans/textops.py::docs_bpe_encode)."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}
    ws_tr = str.maketrans({c: " " for c in "\t\n\x0B\f\r"})

    def encode(batches):
        cache: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            n_words, n_tokens = [], []
            for text in pdf[text_col]:
                words = [w for w in
                         str(text).lower().translate(ws_tr).split(" ") if w]
                total = 0
                for w in words:
                    if w not in cache:
                        cache[w] = len(_encode_word(w, ranks))
                    total += cache[w]
                n_words.append(len(words))
                n_tokens.append(total)
            # .to_numpy(): all three columns must align POSITIONALLY —
            # mixing an index-carrying Series with positional lists
            # would misassign counts under a non-default batch index
            # (r05 ADVICE; _pq_encoded defends the same way).
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "n_words": pd.Series(n_words, dtype="int64"),
                "n_bpe_tokens": pd.Series(n_tokens, dtype="int64"),
            })

    # NO repartition, deliberately (r08, measured): unlike the
    # winnowing kernel (heavy numpy per doc), the cached-word encode
    # loop costs ~0.1 s per MILLION tokens single-threaded — at test
    # scale a repartition(cores) shuffle of the text column costs
    # ~2x the serial encode it parallelizes (0.36 -> 0.66 s measured
    # at sf0.1), and at 100 TB the scan already yields >= cores
    # partitions so the kernel parallelizes for free.
    return df.select(id_col, text_col).mapInPandas(
        encode, schema=f"{id_col} long, n_words long, n_bpe_tokens long")


# Pinned tokenizer artifact: the merge list train_bpe_merges learns at
# sf0.01 (bounded lowest-doc-id sample, lexicographic tie-breaks — a
# pure function of that table), frozen as a literal so the encode
# path can be value-oracled cross-engine (the pinned-quantizer recipe
# of operators/similarity.py::pinned_centroids). Real pipelines ship
# the tokenizer as exactly this kind of fixed artifact; training
# itself stays covered by the docs_bpe_pair_counts oracle and the
# sequential contracts in tests/test_bpe.py.
PINNED_BPE_MERGES: list[tuple[str, str]] = [
    ('e', 'r'), ('e', '</w>'), ('n', '</w>'), ('er', '</w>'),
    ('w', '</w>'), ('o', 'w</w>'), ('o', 'r'), ('s', 't'),
    ('h', '</w>'), ('a', 't'), ('l', 'u'), ('i', 'n'),
    ('a', '</w>'), ('g', '</w>'), ('y', '</w>'), ('p', 'a'),
    ('pa', 'r'), ('t', '</w>'), ('o', 'i'), ('oi', 'n</w>'),
    ('j', 'oin</w>'), ('s', 'h</w>'), ('h', 'a'), ('ha', 'sh</w>'),
    ('r', 'ow</w>'), ('c', 'h</w>'), ('b', 'at'), ('bat', 'ch</w>'),
    ('s', 'c'), ('sc', 'a'), ('sca', 'n</w>'), ('u', 'st'),
    ('ust', 'o'), ('usto', 'm'), ('ustom', 'er</w>'), ('o', 'lu'),
    ('olu', 'm'), ('olum', 'n</w>'), ('c', 'ustomer</w>'),
    ('c', 'olumn</w>'), ('t', 'er</w>'), ('l', 'ter</w>'),
    ('i', 'lter</w>'), ('f', 'ilter</w>'), ('s', 'm'), ('sm', 'a'),
    ('sma', 'l'), ('smal', 'l'), ('small', '</w>'), ('s', 'l'),
    ('sl', 'ow</w>'), ('m', 'er'), ('mer', 'g'), ('merg', 'e</w>'),
    ('v', 'e'), ('ve', 'c'), ('vec', 't'), ('vect', 'or'),
    ('vector', '</w>'), ('or', 'd'), ('ord', 'er</w>'),
    ('l', 'in'), ('lin', 'e</w>'), ('t', 'a'),
]
