"""Extension operators (SURVEY.md §7 Phase 4, BASELINE.json north star).

Reusable, scale-designed implementations:
    dedup.py        MinHash+LSH near-dup, 64-bit SimHash, winnowing,
                    connected components (distributed + bounded local)
    dedup_store.py  persisted shingle/signature/pair/cluster artifacts
    similarity.py   brute-force cosine top-k, IVF / hyperplane-LSH ANN,
                    int8 quantization, SemDeDup semantic dedup
    graph.py        PageRank over pair graphs
    textstats.py    language ID, quality heuristics, NFC normalization
    multimodal.py   opaque-binary columns + Pandas-UDF decode plumbing
    joins.py        as-of join;  rangejoin.py  bounded-interval join
    skew.py         salted two-phase aggregation
    zorder.py       Morton-curve clustering;  rollup.py  epoch-keyed
                    delta rollups (plain + HLL sketch)
    sampling.py     splits/rebalancing;  packing.py  sequence packing
    maintenance.py  table file stats, partition retention
    prefix.py       distributed prefix sum (frozen range partitioning)
"""
