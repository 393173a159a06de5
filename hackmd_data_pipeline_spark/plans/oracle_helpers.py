"""DuckDB-SQL generators for Spark expressions with no DuckDB twin.

The driver's correctness gate runs each registered query's oracle SQL
in DuckDB and hash-compares the values against the Spark result
(__spark_entry__.py contract). Most oracles are plain ANSI SQL, but a
few Spark primitives have no DuckDB builtin — most importantly
``xxhash64``, which underpins the deterministic hash-bucket split
(operators/sampling.py). Rather than downgrade those queries to
rows-only checks, this module restates the primitive in
DuckDB-expressible 64-bit arithmetic so the full value-hash gate
applies (VERDICT r03 "Next round" item 1).

xxHash64 (public spec, github.com/Cyan4973/xxHash; the same closed
form Spark implements in
sql/catalyst/.../expressions/XXH64.java) for a single LONG column
chained with an INT literal seed — exactly what
``F.xxhash64(col, F.lit(seed))`` computes:

    h  = hashLong(col, 42)        # 42 = Spark's XxHash64 default seed
    h' = hashInt(seed_lit, h)     # the lit is IntegerType -> 4-byte path

Each step is {mul,add} mod 2**64, rotate-left, xor, and logical
right-shift. DuckDB's UBIGINT gives exact xor/>>/|; products are
computed in HUGEINT (signed INT128) via 32-bit split multiplication so
they can't overflow. Verified bit-exact against Spark's xxhash64 for
the full doc_id domain in tests/test_oracle_helpers.py.
"""

from __future__ import annotations

_M = "18446744073709551616"  # 2**64
_P1 = "11400714785074694791"
_P2 = "14029467366897019727"
_P3 = "1609587929392839161"
_P4 = "9650029242287828579"
_P5 = 2870177450012600261

_M32 = "4294967295::UBIGINT"


def _u(c: int) -> str:
    return f"{c}::UBIGINT"


def _mulmod(a: str, b: str | int) -> str:
    """(a*b) mod 2**64 in PURE UBIGINT — no INT128, no division.

    r05 perf rework (VERDICT r04 "What's wrong" 3): the original form
    computed every product in HUGEINT and reduced with ``% 2**64`` —
    128-bit division per step, which profiled as ~85% of the 17 s
    minhash-oracle wall (the remix stage alone burned ~20 s CPU).
    Schoolbook 32-bit split instead: every partial stays < 2**64
    (al,ah,bl,bh < 2**32), the carry chain is masked, and DuckDB's
    overflow-checked UBIGINT ops never trip. ``b`` must be a constant
    (true for every call site — xxh64 multiplies by fixed primes)."""
    b = int(str(b))
    assert 0 <= b < (1 << 64)
    bl, bh = b & 0xFFFFFFFF, b >> 32
    al, ah = f"(({a}) & {_M32})", f"(({a}) >> 32)"
    lo = f"({al} * {_u(bl)})" if bl else "CAST(0 AS UBIGINT)"
    cross_terms = []
    if bh:
        cross_terms.append(f"(({al} * {_u(bh)}) & {_M32})")
    if bl:
        cross_terms.append(f"(({ah} * {_u(bl)}) & {_M32})")
    cross = ("((" + " + ".join(cross_terms) + f") & {_M32})"
             if cross_terms else "CAST(0 AS UBIGINT)")
    hi = f"(((({lo}) >> 32) + {cross}) & {_M32})"
    # NB: `hi << 32` would be the natural spelling, but DuckDB 1.0's
    # UBIGINT left-shift bound-checks against the SIGNED range and
    # raises on any bit-63 result; checked multiply by 2**32 is exact
    # (hi < 2**32 so the product < 2**64) and equally cheap.
    return f"((({hi}) * {_u(1 << 32)}) | (({lo}) & {_M32}))"


def _addmod(a: str, b: str | int) -> str:
    """(a+b) mod 2**64 in pure UBIGINT: 32-bit halves + masked carry."""
    if isinstance(b, int):
        b = _u(b % (1 << 64))
    lo = f"((({a}) & {_M32}) + (({b}) & {_M32}))"
    hi = f"((((({a}) >> 32) + (({b}) >> 32)) + (({lo}) >> 32)) & {_M32})"
    return f"((({hi}) * {_u(1 << 32)}) | (({lo}) & {_M32}))"


def _rotl(x: str, r: int) -> str:
    mask = _u((1 << (64 - r)) - 1)
    return f"(((({x}) & {mask}) * {_u(1 << r)}) | (({x}) >> {64 - r}))"


def _xor(a: str, b: str) -> str:
    return f"xor({a}, {b})"


def _fmix_steps(prefix: str, h_col: str) -> list[str]:
    """xxh64 avalanche: 5 CTE steps named {prefix}1..{prefix}5, the
    last exposing column ``h``."""
    return [
        f"{prefix}1 AS (SELECT *, {_xor(h_col, f'{h_col} >> 33')} AS {prefix}_a FROM __PREV__)",
        f"{prefix}2 AS (SELECT *, {_mulmod(f'{prefix}_a', _P2)} AS {prefix}_b FROM __PREV__)",
        f"{prefix}3 AS (SELECT *, {_xor(f'{prefix}_b', f'{prefix}_b >> 29')} AS {prefix}_c FROM __PREV__)",
        f"{prefix}4 AS (SELECT *, {_mulmod(f'{prefix}_c', _P3)} AS {prefix}_d FROM __PREV__)",
        f"{prefix}5 AS (SELECT *, {_xor(f'{prefix}_d', f'{prefix}_d >> 32')} AS {prefix}_h FROM __PREV__)",
    ]


def xxhash64_bucket_cte(key_col: str, seed: int, granularity: int,
                        source_sql: str, keep_cols: str,
                        bucket_col: str = "bucket") -> str:
    """A WITH-clause prefix computing Spark's
    ``pmod(xxhash64(key_col, lit(seed)), granularity)`` per row.

    NOTE: this predates the general ``hashlong_steps``/``hashint_expr``
    helpers below and hand-rolls the same hashLong+hashInt rounds in a
    different CTE idiom. Both restatements are pinned bit-exact against
    the SAME ground truth (Spark's ``xxhash64``) by
    tests/test_oracle_helpers.py, so drift in either is caught; kept
    separate because the split-step form here feeds string-template
    callers that the chained-steps form doesn't fit.

    Returns SQL text ``WITH ... , final AS (SELECT keep_cols, bucket
    FROM ...)`` — append your own SELECT over ``final``. ``source_sql``
    is the FROM-able source (table name or subquery); ``keep_cols``
    are passthrough columns to carry to ``final``.
    """
    c0 = _addmod("CAST(42 AS UBIGINT)", _P5 + 8)          # hashLong init, seed 42
    steps = [
        # two's-complement reinterpret: negative BIGINT keys map to the
        # same 64-bit pattern Spark hashes (plain CAST would raise)
        f"x0 AS (SELECT {keep_cols}, CAST((CAST({key_col} AS HUGEINT) "
        f"+ {_M}) % {_M} AS UBIGINT) AS xk FROM {source_sql})",
        f"x1 AS (SELECT *, {_rotl(_mulmod('xk', _P2), 31)} AS k1 FROM __PREV__)",
        f"x2 AS (SELECT *, {_xor(c0, _mulmod('k1', _P1))} AS lh0 FROM __PREV__)",
        f"x3 AS (SELECT *, {_addmod(_mulmod(_rotl('lh0', 27), _P1), _P4)} AS lh1 FROM __PREV__)",
        *_fmix_steps("lf", "lh1"),
        # hashInt(seed, h): 4-byte path; (seed & 0xFFFFFFFF) * P1 is a constant
        f"y0 AS (SELECT *, {_addmod('lf_h', _P5 + 4)} AS ih0 FROM __PREV__)",
        f"y1 AS (SELECT *, {_xor('ih0', _mulmod(str((seed & 0xFFFFFFFF)), _P1))} AS ih1 FROM __PREV__)",
        f"y2 AS (SELECT *, {_addmod(_mulmod(_rotl('ih1', 23), _P2), _P3)} AS ih2 FROM __PREV__)",
        *_fmix_steps("zf", "ih2"),
        (f"final AS (SELECT {keep_cols}, "
         f"CAST((((CASE WHEN zf_h >= CAST(9223372036854775808 AS UBIGINT) "
         f"THEN CAST(zf_h AS HUGEINT) - {_M} ELSE CAST(zf_h AS HUGEINT) END) "
         f"% {granularity}) + {granularity}) % {granularity} AS BIGINT) "
         f"AS {bucket_col} FROM __PREV__)"),
    ]
    prev = None
    out = []
    for s in steps:
        name = s.split(" AS ", 1)[0].strip()
        out.append(s.replace("__PREV__", prev) if prev else s)
        prev = name
    return "WITH " + ",\n".join(out)


def _signed(u: str) -> str:
    """UBIGINT bit pattern -> signed BIGINT value (two's complement)."""
    return (f"CAST(CASE WHEN {u} >= CAST(9223372036854775808 AS UBIGINT) "
            f"THEN CAST({u} AS HUGEINT) - {_M} ELSE CAST({u} AS HUGEINT) END "
            f"AS BIGINT)")


def _unsigned(s: str) -> str:
    """signed BIGINT -> UBIGINT bit pattern."""
    return f"CAST((CAST({s} AS HUGEINT) + {_M}) % {_M} AS UBIGINT)"


def _fmix_inline(h: str) -> str:
    """xxh64 avalanche as ONE expression. ``h`` must be a short column
    reference — the inlining duplicates it ~16x."""
    a = _xor(h, f"({h}) >> 33")
    b = _mulmod(a, _P2)
    c = _xor(b, f"({b}) >> 29")
    d = _mulmod(c, _P3)
    return _xor(d, f"({d}) >> 32")


def _round0(v: str) -> str:
    return _mulmod(_rotl(_mulmod(v, _P2), 31), _P1)


def _round0_pre(x2: str) -> str:
    """round0 of a word PRE-MULTIPLIED by P2 (see xxh64_string_ctes)."""
    return _mulmod(_rotl(x2, 31), _P1)


def hashlong_steps(prefix: str, x_col: str, seed: str | int,
                   src: str, keep: str = "*") -> tuple[list[str], str]:
    """CTE steps computing XXH64.hashLong(x_col, seed) — x_col is a
    UBIGINT bit-pattern column, seed a constant or UBIGINT column.
    Returns (steps, final_column_name); steps chain from ``src`` and
    each subsequent step reads the previous one (caller stitches).

    ``keep`` prunes the carried column list (r05: a 48-step chain with
    ``SELECT *`` accumulates every dead temp column; the binder cost of
    re-resolving the ever-growing lists dominated the minhash oracle's
    wall time once execution itself was cheap). The consumed x/seed
    columns may be absent from ``keep`` — they are referenced only in
    the first step."""
    if isinstance(seed, int):
        init = f"CAST({(seed + _P5 + 8) % (1 << 64)} AS UBIGINT)"
    else:
        init = _addmod(seed, _P5 + 8)
    k = _mulmod(_rotl(_mulmod(x_col, _P2), 31), _P1)
    steps = [
        f"{prefix}a AS (SELECT {keep}, {_xor(init, k)} AS {prefix}_t FROM {src})",
        f"{prefix}b AS (SELECT {keep}, "
        f"{_addmod(_mulmod(_rotl(f'{prefix}_t', 27), _P1), _P4)} "
        f"AS {prefix}_u FROM {prefix}a)",
        f"{prefix}c AS (SELECT {keep}, {_fmix_inline(f'{prefix}_u')} "
        f"AS {prefix}_h FROM {prefix}b)",
    ]
    return steps, f"{prefix}_h"


def hashint_expr(i_expr: str, seed_col: str) -> str:
    """XXH64.hashInt(i, seed) as one expression — ``i_expr`` a small
    non-negative INT expression/column, ``seed_col`` a UBIGINT column.
    The final fmix inlines ``seed_col``-derived text ~16x, so keep the
    caller's columns short."""
    h0 = _addmod(seed_col, _P5 + 4)
    h1 = _xor(h0, _mulmod(f"CAST({i_expr} AS UBIGINT)", _P1))
    h2 = _addmod(_mulmod(_rotl(h1, 23), _P2), _P3)
    return h2  # caller fmixes from a column to avoid text blow-up


def xxh64_string_ctes(src: str, carry: str, str_col: str,
                      prefix: str = "xs", seed: int = 42) -> tuple[str, str]:
    """CTE fragment hashing a VARCHAR column with the full XXH64
    algorithm (stripes for >= 32 bytes, 8-byte tail words, 4-byte
    chunk, trailing bytes, avalanche) — bit-exact with Spark's
    ``xxhash64(string_col)`` (verified over hostile lengths and
    multibyte UTF-8 in tests/test_oracle_helpers.py).

    ``src`` must be a prior CTE exposing ``carry`` columns plus
    ``str_col``. Returns (fragment, final_cte_name); the final CTE
    exposes ``carry`` + ``h`` (UBIGINT bit pattern). Folds run via
    list_reduce with the running hash prepended; the four stripe
    accumulators fold independently over every 4th stripe word.
    """
    p = prefix
    V1 = (seed + int(_P1) + int(_P2)) % (1 << 64)
    V2 = (seed + int(_P2)) % (1 << 64)
    V3 = seed
    V4 = (seed - int(_P1)) % (1 << 64)
    # bytes and words stay UBIGINT end-to-end (r05: the old HUGEINT
    # lists forced a 128-bit ``% 2**64`` per fold element — pure
    # division cost, since every value is < 2**64 by construction)
    byte_expr = ("[ CAST(16 * (strpos('0123456789abcdef', hx[2*j-1]) - 1)"
                 " + (strpos('0123456789abcdef', hx[2*j]) - 1) AS UBIGINT)"
                 " FOR j IN range(1, len(hx) // 2 + 1) ]")
    # ``w`` stores each 8-byte word PRE-MULTIPLIED by P2 (mod 2**64):
    # both consumers — the stripe accumulators' xxh round and the tail
    # words' round0 — use a word only as ``x*P2``, and hoisting the
    # multiply out of the fold lambdas cuts the per-lambda expression
    # tree ~5x (r05: front-end binding of the generated SQL, not
    # execution, had become the oracle cost).
    raw_word = ("(" + " + ".join(f"b[8*(j-1)+{t + 1}] * {_u(2 ** (8 * t))}"
                                 for t in range(8)) + ")")
    word_expr = ("[ " + _mulmod(raw_word, _P2)
                 + " FOR j IN range(1, len(b) // 8 + 1) ]")

    def vfold(i: int, init: int) -> str:
        lst = f"[ w[4*t + {i + 1}] FOR t IN range(0, ns) ]"
        return (f"list_reduce(list_prepend(CAST({init} AS UBIGINT), "
                f"{lst}), "
                f"(acc, x) -> {_mulmod(_rotl(_addmod('acc', 'x'), 31), _P1)})")

    hmerge = _addmod(_addmod(_rotl("v1", 1), _rotl("v2", 7)),
                     _addmod(_rotl("v3", 12), _rotl("v4", 18)))

    u32 = " + ".join(f"b[8*(nb//8)+{t + 1}] * {_u(2 ** (8 * t))}"
                     for t in range(4))
    tail_bytes = ("[ CAST(b[j] AS UBIGINT) FOR j IN range("
                  "8*(nb//8) + CASE WHEN nb % 8 >= 4 THEN 4 ELSE 0 END + 1, "
                  "nb + 1) ]")
    byte_step = _mulmod(_rotl(_xor("acc", _mulmod("x", _P5)), 11), _P1)

    # The four merge rounds run STEPWISE over short column refs — the
    # nested form merge_round(merge_round(...)) duplicates its argument
    # ~12x per level, which with the r05 branchier UBIGINT helpers
    # compounds to hundreds of MB of SQL text. Rounds are computed for
    # every row (harmless garbage when nb < 32) and gated in {p}h0.
    frag = f"""{p}bts AS (
    SELECT {carry}, LOWER(hex(encode({str_col}))) AS hx FROM {src}
), {p}byt AS (
    SELECT {carry}, {byte_expr} AS b FROM {p}bts
), {p}wrd AS (
    SELECT {carry}, b, len(b) AS nb, len(b) // 32 AS ns, {word_expr} AS w
    FROM {p}byt
), {p}acc AS (
    SELECT {carry}, b, nb, ns, w,
           {vfold(0, V1)} AS v1, {vfold(1, V2)} AS v2,
           {vfold(2, V3)} AS v3, {vfold(3, V4)} AS v4
    FROM {p}wrd
), {p}mr0 AS (
    SELECT {carry}, b, nb, ns, w, {hmerge} AS hm,
           {_round0('v1')} AS r1, {_round0('v2')} AS r2,
           {_round0('v3')} AS r3, {_round0('v4')} AS r4
    FROM {p}acc
), {p}mr1 AS (
    SELECT {carry}, b, nb, ns, w, r2, r3, r4,
           {_addmod(_mulmod(_xor('hm', 'r1'), _P1), _P4)} AS m1 FROM {p}mr0
), {p}mr2 AS (
    SELECT {carry}, b, nb, ns, w, r3, r4,
           {_addmod(_mulmod(_xor('m1', 'r2'), _P1), _P4)} AS m2 FROM {p}mr1
), {p}mr3 AS (
    SELECT {carry}, b, nb, ns, w, r4,
           {_addmod(_mulmod(_xor('m2', 'r3'), _P1), _P4)} AS m3 FROM {p}mr2
), {p}h0 AS (
    SELECT {carry}, b, nb, ns, w,
           CASE WHEN nb >= 32 THEN
               {_addmod(_mulmod(_xor('m3', 'r4'), _P1), _P4)}
           ELSE CAST({(seed + _P5) % (1 << 64)} AS UBIGINT) END AS h
    FROM {p}mr3
), {p}h1 AS (
    SELECT {carry}, b, nb, ns, w, {_addmod('h', 'CAST(nb AS UBIGINT)')} AS h FROM {p}h0
), {p}t1g AS (
    SELECT {carry}, b, nb, ns, w, h,
           {_xor('h', _round0_pre('w[4*ns + 1]'))} AS g FROM {p}h1
), {p}t1 AS (
    SELECT {carry}, b, nb, ns, w,
           CASE WHEN len(w) >= 4*ns + 1
                THEN {_addmod(_mulmod(_rotl('g', 27), _P1), _P4)}
                ELSE h END AS h
    FROM {p}t1g
), {p}t2g AS (
    SELECT {carry}, b, nb, ns, w, h,
           {_xor('h', _round0_pre('w[4*ns + 2]'))} AS g FROM {p}t1
), {p}t2 AS (
    SELECT {carry}, b, nb, ns, w,
           CASE WHEN len(w) >= 4*ns + 2
                THEN {_addmod(_mulmod(_rotl('g', 27), _P1), _P4)}
                ELSE h END AS h
    FROM {p}t2g
), {p}t3g AS (
    SELECT {carry}, b, nb, ns, w, h,
           {_xor('h', _round0_pre('w[4*ns + 3]'))} AS g FROM {p}t2
), {p}h2 AS (
    SELECT {carry}, b, nb,
           CASE WHEN len(w) >= 4*ns + 3
                THEN {_addmod(_mulmod(_rotl('g', 27), _P1), _P4)}
                ELSE h END AS h3
    FROM {p}t3g
), {p}h4g AS (
    SELECT {carry}, b, nb, h3,
           {_xor('h3', _mulmod(f'CAST(({u32}) AS UBIGINT)', _P1))} AS g
    FROM {p}h2
), {p}h4 AS (
    SELECT {carry}, b, nb,
           CASE WHEN nb % 8 >= 4
                THEN {_addmod(_mulmod(_rotl('g', 23), _P2), _P3)}
                ELSE h3 END AS h
    FROM {p}h4g
), {p}h5 AS (
    SELECT {carry},
           list_reduce(list_prepend(h, {tail_bytes}),
                       (acc, x) -> {byte_step}) AS h
    FROM {p}h4
), {p}out AS (
    SELECT {carry}, {_fmix_inline('h')} AS h FROM {p}h5
)"""
    return frag, f"{p}out"


def minhash_pairs_ctes(shingle_n: int = 3, num_hashes: int = 16,
                       bands: int = 4, threshold: float = 0.3) -> str:
    """Full DuckDB restatement of ``minhash_lsh_pairs`` — BANDING
    INCLUDED: shingle strings -> xxh64 string hash -> per-hash
    hashLong(·,42) shared by the k remixes -> hashInt(i,·) minhash
    remixes -> per-band chained-hashLong bucket keys -> bucket-join
    candidates -> exact hashed-shingle Jaccard >= threshold.

    Every hash is the bit-exact xxh64 restatement above, so the oracle
    reproduces Spark's banding DECISIONS, not just the verify
    arithmetic — the LSH family's rows-only-by-nature rationale is
    retired. Coverage split, stated precisely: the string-hash
    primitive (and the long+int bucket path) is pinned BIT-EXACT
    against Spark in tests/test_oracle_helpers.py over hostile
    lengths/encodings; the remix chain, band-key chaining, and the
    banding decisions themselves are checked END-TO-END by the
    hash-gated query at three scales (a remix bug that changed no
    banding decision on those corpora could in principle hide — the
    per-stage guarantee applies to the string hash only).

    Returns a WITH-body fragment (no leading WITH) ending in a CTE
    named ``mh_pairs(id_a, id_b, jaccard)`` — wrappers append their
    own final SELECT (the pair listing, or a recursive closure for
    cluster resolution)."""
    rows = num_hashes // bands
    frag, out = xxh64_string_ctes("uniq", "s", "s", prefix="xs")

    band_steps: list[str] = []
    prev_cte = "sp"
    band_cols: list[str] = []
    for b in range(bands):
        for r in range(rows):
            pfx = f"bh{b}x{r}"
            seed_arg = 42 if r == 0 else f"bh{b}x{r - 1}_h"
            # prune the carry to what downstream still reads: the
            # not-yet-consumed sigs and the completed band keys (the
            # consumed sig + seed columns drop here — binder cost over
            # 48 chained steps was the minhash oracle's residual
            # hotspot once execution went cheap)
            keep = ", ".join(
                ["doc_id"]
                + [f"s{i}" for i in range(rows * b + r + 1, num_hashes)]
                + band_cols)
            steps, _ = hashlong_steps(pfx, _unsigned(f"s{rows * b + r}"),
                                      seed_arg, prev_cte, keep=keep)
            band_steps.extend(steps)
            prev_cte = f"{pfx}c"
        band_cols.append(f"bh{b}x{rows - 1}_h")
    band_frag = ",\n".join(band_steps)
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {band_cols[b]} AS bh FROM {prev_cte}"
        for b in range(bands))

    grams = " || ' ' || ".join(f"t[i+{k}]" for k in range(shingle_n))
    hl_init = f"CAST({(42 + _P5 + 8) % (1 << 64)} AS UBIGINT)"
    jac = ("ROUND(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) "
           "/ (ha.n + hb.n - len(list_intersect(ha.hs, hb.hs))), 4)")
    return f"""
    docs AS MATERIALIZED (
        SELECT doc_id,
               list_distinct([{grams}
                              FOR i IN range(1, GREATEST(len(t) - {shingle_n - 2}, 1))]) AS shingles
        FROM (SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
              FROM documents WHERE LENGTH(TRIM(text)) > 0)
        WHERE len(t) >= {shingle_n}
    ), dsh AS MATERIALIZED (
        SELECT doc_id, UNNEST(shingles) AS s FROM docs WHERE len(shingles) > 0
    ), uniq AS MATERIALIZED (
        SELECT DISTINCT s FROM dsh
    ), {frag},
    dh AS MATERIALIZED (
        SELECT d.doc_id, ho.h FROM dsh d JOIN {out} ho ON ho.s = d.s
    ),
    uh AS MATERIALIZED (SELECT DISTINCT h FROM dh),
    hla AS (SELECT *, {_xor(hl_init, _mulmod(_rotl(_mulmod('h', _P2), 31), _P1))} AS hl_t FROM uh),
    hlb AS (SELECT *, {_addmod(_mulmod(_rotl('hl_t', 27), _P1), _P4)} AS hl_u FROM hla),
    hlc AS (SELECT *, {_fmix_inline('hl_u')} AS hl FROM hlb),
    ri0 AS (SELECT h, hl, u.i FROM hlc, UNNEST(range(0, {num_hashes})) AS u(i)),
    ri1 AS (SELECT h, i, {hashint_expr('i', 'hl')} AS rx FROM ri0),
    ri2 AS (SELECT h, i, {_fmix_inline('rx')} AS remix FROM ri1),
    sigl AS (
        SELECT dh.doc_id, r.i, MIN({_signed('r.remix')}) AS sig
        FROM dh JOIN ri2 r ON r.h = dh.h GROUP BY dh.doc_id, r.i
    ),
    sp AS (
        SELECT doc_id,
               {", ".join(f"MIN(CASE WHEN i = {i} THEN sig END) AS s{i}" for i in range(num_hashes))}
        FROM sigl GROUP BY doc_id
    ),
    {band_frag},
    bb AS MATERIALIZED ({band_union}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bb a JOIN bb b ON a.band = b.band AND a.bh = b.bh
                            AND a.doc_id < b.doc_id
    ),
    hsets AS MATERIALIZED (SELECT doc_id, list(h) AS hs, COUNT(*) AS n FROM dh GROUP BY doc_id),
    mh_pairs AS (
        SELECT c.id_a, c.id_b, {jac} AS jaccard
        FROM cand c JOIN hsets ha ON ha.doc_id = c.id_a
                    JOIN hsets hb ON hb.doc_id = c.id_b
        WHERE {jac} >= {threshold}
    )"""


def _simhash_pair_sql(toks_cte: str, id_name: str, max_hamming: int) -> str:
    """Shared SimHash-family pair restatement: a caller-supplied
    ``toks(<id_name>, s)`` feature CTE -> per-feature xxh64 -> per-bit
    majority votes over feature OCCURRENCES -> packed 64-bit signature
    -> 16-bit pigeonhole block equi-join -> Hamming verify. Bit-exact
    with Spark's packed-lane vote kernel
    (operators/dedup.py::simhash_pack_votes) because both sides reduce
    the same per-feature hash bits with integer arithmetic."""
    frag, out = xxh64_string_ctes("uniq", "s", "s", prefix="xs")
    sums = ",\n               ".join(
        f"SUM(CAST((h >> {i}) & 1 AS BIGINT)) AS s{i}" for i in range(64))
    sig = " + ".join(
        f"CASE WHEN 2*s{i} > n THEN CAST({1 << i} AS UBIGINT) "
        f"ELSE CAST(0 AS UBIGINT) END"
        for i in range(64))
    blocks = " UNION ALL ".join(
        f"SELECT {id_name}, {k} AS blk, "
        f"CAST((sig >> {16 * k}) & 65535 AS BIGINT) AS blk_val, sig "
        f"FROM sigs" for k in range(4))
    return f"""
    WITH toks AS MATERIALIZED (
        {toks_cte}
    ), uniq AS MATERIALIZED (
        SELECT DISTINCT s FROM toks
    ), {frag},
    th AS MATERIALIZED (
        SELECT t.{id_name}, ho.h FROM toks t JOIN {out} ho ON ho.s = t.s
    ), votes AS (
        SELECT {id_name}, COUNT(*) AS n,
               {sums}
        FROM th GROUP BY {id_name}
    ), sigs AS (
        SELECT {id_name}, ({sig}) AS sig
        FROM votes
    ), bb AS MATERIALIZED ({blocks})
    SELECT DISTINCT a.{id_name} AS id_a, b.{id_name} AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM bb a JOIN bb b ON a.blk = b.blk AND a.blk_val = b.blk_val
                        AND a.{id_name} < b.{id_name}
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    ORDER BY id_a, id_b
    """


def simhash_oracle(max_hamming: int = 3) -> str:
    """Full DuckDB restatement of ``simhash_pairs`` (64-bit signature,
    16-bit pigeonhole blocks) over whitespace tokens."""
    return _simhash_pair_sql(
        """SELECT doc_id, u.tok AS s
        FROM (SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
              FROM documents),
             UNNEST(t) AS u(tok)
        WHERE LENGTH(u.tok) > 0""",
        "doc_id", max_hamming)


def media_phash_oracle(max_hamming: int = 3, block_bytes: int = 8) -> str:
    """Full DuckDB restatement of the multimodal byte-block perceptual
    hash (operators/multimodal.py::media_phash_pairs) over the media
    view's UTF-8 payloads: hex-domain byte blocks (partial tail block
    included, exactly Spark's ``substring`` truncation) through the
    shared vote/block/verify pipeline."""
    w = block_bytes * 2
    return _simhash_pair_sql(
        f"""SELECT media_id, u.tok AS s
        FROM (SELECT doc_id AS media_id, LOWER(hex(encode(text))) AS hx
              FROM documents WHERE octet_length(encode(text)) > 0),
             UNNEST([ hx[{w}*(j-1)+1 : {w}*j]
                      FOR j IN range(1, CAST(CEIL(len(hx) / {w}.0) AS INT) + 1) ]) AS u(tok)""",
        "media_id", max_hamming)


def minhash_lsh_oracle(shingle_n: int = 3, num_hashes: int = 16,
                       bands: int = 4, threshold: float = 0.3) -> str:
    """dedup_minhash_lsh's oracle: the pair pipeline + ordered listing."""
    return ("WITH " + minhash_pairs_ctes(shingle_n, num_hashes, bands,
                                         threshold)
            + "\nSELECT id_a, id_b, jaccard FROM mh_pairs ORDER BY id_a, id_b")


def minhash_cluster_oracle(threshold: float = 0.5,
                           exclude: str | None = None) -> str:
    """dedup_cluster_resolve's oracle: the SAME value-checked LSH pair
    pipeline at the resolve threshold, closed transitively with a
    recursive CTE and labeled with each component's minimum id — the
    DuckDB twin of pairs -> dedup_clusters -> canonical flag.

    ``exclude`` (a predicate template over one id, e.g.
    ``"{x} % 10 = 3"``) drops every pair with a matching endpoint
    BEFORE the closure — the from-scratch restatement of
    remove_docs' tombstone semantics: clustering over the surviving
    pair set, deleted docs influencing nothing.

    The pair pipeline MUST be pinned ``AS MATERIALIZED``: under
    ``WITH RECURSIVE`` DuckDB inlines plain CTEs, so the recursive
    ``reach`` join would re-evaluate the whole xxh64 pipeline per
    fixpoint iteration — observed as an unbounded-memory blowup at
    sf0.01 (the inline form OOM'd a 125 GB host; the materialized
    form runs in ~30 s / <2 GB)."""
    where = ""
    if exclude is not None:
        where = (f" WHERE NOT ({exclude.format(x='id_a')})"
                 f" AND NOT ({exclude.format(x='id_b')})")
    return ("WITH RECURSIVE pairs AS MATERIALIZED (WITH "
            + minhash_pairs_ctes(threshold=threshold) + f"""
    SELECT id_a, id_b FROM mh_pairs{where}
    ),""" + """
    edges AS MATERIALIZED (
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
    """)


def km_pos_expr(h_col: str, i_expr: str, num_slots: int) -> str:
    """Kirsch-Mitzenmacher probe position ``(h1 + i*h2) % num_slots``
    over a UBIGINT hash column — the SQL twin of
    operators/membership.py::km_positions (h1 = high 32 bits, h2 = low
    32 bits forced odd). All operands stay < 2^36, so plain UBIGINT
    arithmetic restates Spark's signed-long form exactly (both sides
    operate on non-negative values; pinned by
    tests/test_membership.py::test_km_positions_sql_parity)."""
    return (f"CAST((({h_col} >> 32) + CAST({i_expr} AS UBIGINT) * "
            f"(({h_col} & CAST(4294967295 AS UBIGINT)) | CAST(1 AS UBIGINT))) "
            f"% CAST({num_slots} AS UBIGINT) AS BIGINT)")


def exact_substring_oracle(k: int = 32, final_where: str = "",
                           corpus_where: str = "") -> str:
    """DuckDB restatement of operators/dedup.py::exact_substring_spans
    (Lee et al. 2022 span audit): k-token windows grouped by SPAN TEXT
    (so a Spark-side xxh64 collision would surface as a gate mismatch
    rather than hide), >= 2 distinct docs => duplicated, per-doc
    interval merge with exact union coverage. ``final_where`` filters
    the REPORT rows only — duplication is always judged over the full
    corpus — which is exactly the incremental-form contract
    (dedup_incremental_spans: report the new batch, witness
    everywhere). ``corpus_where`` (an ``AND ...`` clause) removes docs
    from the WITNESS set too — the right-to-be-forgotten restatement
    (dedup_span_store_delete: a tombstoned doc's spans must stop
    witnessing duplication entirely)."""
    return f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
        FROM documents WHERE LENGTH(TRIM(text)) > 0 {corpus_where}
    ), sized AS (
        SELECT doc_id, toks, len(toks) AS n_tokens FROM t
    ), w AS (
        SELECT doc_id, u.i AS i,
               array_to_string(toks[u.i : u.i + {k - 1}], ' ') AS span
        FROM sized, UNNEST(range(1, n_tokens - {k - 2})) AS u(i)
        WHERE n_tokens >= {k}
    ), dup AS (
        SELECT span FROM w GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
    ), pos AS (
        SELECT w.doc_id, w.i FROM w JOIN dup USING (span)
    ), flagged AS (
        SELECT doc_id, i,
               CASE WHEN LAG(i) OVER win IS NULL
                    OR i - LAG(i) OVER win > {k} THEN 1 ELSE 0 END AS brk
        FROM pos WINDOW win AS (PARTITION BY doc_id ORDER BY i)
    ), grp AS (
        SELECT doc_id, i,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS g
        FROM flagged
    ), islands AS (
        SELECT doc_id, COUNT(DISTINCT g) AS n_dup_spans,
               SUM(span_tokens) AS n_dup_tokens
        FROM (SELECT doc_id, g, MAX(i) - MIN(i) + {k} AS span_tokens
              FROM grp GROUP BY doc_id, g)
        GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.n_tokens AS INT)                   AS n_tokens,
           CAST(COALESCE(n_dup_spans, 0) AS BIGINT)  AS n_dup_spans,
           CAST(COALESCE(n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           ROUND(CAST(COALESCE(n_dup_tokens, 0) AS DOUBLE) / s.n_tokens, 4)
                                                     AS dup_fraction
    FROM sized s LEFT JOIN islands ON islands.doc_id = s.doc_id
    {final_where}
    ORDER BY s.doc_id
    """
