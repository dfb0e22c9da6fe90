"""Engine-portable text hashing: one set of constants generates both
the Spark SQL expressions and the DuckDB oracle SQL, so MinHash/SimHash
signatures hash-match across engines bit-for-bit.

Everything is built on a polynomial character-fold hash
``h(s) = fold(chars(s), acc*257 + code mod 1e9+7)`` — exact int64
arithmetic, deterministic in any engine, entirely inside whole-stage
codegen on the Spark side (no Python in the hot path).
"""

from __future__ import annotations

P = 1_000_000_007  # modulus (fits products in int64: a*h < 1e18)
BASE = 257  # char-fold multiplier
K = 32  # minhash signature length
BANDS = 8  # LSH bands
ROWS = 4  # signature rows per band  (K = BANDS * ROWS)
SHINGLE_W = 3  # word n-gram width

# 60 bits = the full raw md5 prefix (spark_str_hash_raw). At corpus
# scale the band buckets must not saturate: with B bands catching
# hamming ≤ B-1, band width = SIMHASH_BITS/B; 32-bit sigs gave 8-bit
# bands (256 buckets) which saturated ~10× sooner — candidate pairs
# grow with Σ bucket², so bucket count is the quadratic-blowup guard.
# 60-bit sigs give 15-bit bands (32768 buckets), ~128× more selective.
# (Measured: sf1 simhash pairs 50.5 s → see SCALE.md after the widen.)
SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15  # 4 bands of 15 bits → catches hamming ≤ 3


def _coeff(i: int, salt: int) -> int:
    c = (1 + (i + 1) * 2654435761 + salt * 40503) % P
    return c or 1


#: MinHash hash-family coefficients h_i(x) = (A[i]*x + B[i]) mod P.
A = [_coeff(i, 0) for i in range(K)]
B = [_coeff(i, 1) for i in range(K)]


# ------------------------------------------------------------ Spark side


def spark_tokens(col: str) -> str:
    return f"filter(split({col}, ' '), t -> t <> '')"


def spark_char_hash(s: str) -> str:
    """Rolling polynomial char-fold (the fingerprint primitive).

    Interpreted per character (Spark higher-order functions don't
    codegen) — fine once per document, too slow per shingle; hot paths
    use :func:`spark_str_hash`.
    """
    return (
        f"aggregate(transform(split({s}, ''), c -> ascii(c)), 0L, "
        f"(acc, x) -> (acc * {BASE} + x) % {P})"
    )


def spark_str_hash(s: str) -> str:
    """Fast engine-portable string hash: native md5, top 60 bits, mod P.

    One native call per string instead of a per-char interpreted fold —
    ~50× cheaper in the MinHash/SimHash hot path.
    """
    return f"(CAST(CONV(SUBSTRING(md5({s}), 1, 15), 16, 10) AS BIGINT) % {P})"


def spark_str_hash_raw(s: str) -> str:
    """The raw 60-bit md5 prefix, *without* the mod-P reduction.

    SimHash draws its per-token bit pattern from this: mod P ≈ 2^30
    would zero every bit above 29, silently shrinking a 32-bit SimHash
    to 30 effective bits (and collapsing the top band's bucket space).
    MinHash keeps the mod-P form — its (A·x + B) mod P family needs
    x < P for exact int64 arithmetic.
    """
    return f"CAST(CONV(SUBSTRING(md5({s}), 1, 15), 16, 10) AS BIGINT)"


def spark_shingles_from_tokens(tok_col: str, w: int = SHINGLE_W) -> str:
    """Shingles over a *materialized* ``spark_tokens`` column.

    Never pass the tokenizer expression itself: common-subexpression
    elimination does not reach inside lambda bodies, so an inline
    tokenizer re-splits the text for every ``element_at`` —
    ~3·shingles extra splits per row.  Spark's ``sequence(1, 0)`` yields a DESCENDING ``[1, 0]``
    rather than an empty array (DuckDB's ``generate_series(1, 0)`` is
    empty), so short documents are guarded explicitly or ``element_at``
    goes out of bounds.
    """
    parts = ", ".join(f"element_at({tok_col}, i + {j})" for j in range(w))
    return (
        f"CASE WHEN size({tok_col}) < {w} THEN array() "
        f"ELSE array_distinct(transform(sequence(1, size({tok_col}) - {w - 1}), "
        f"i -> concat_ws(' ', {parts}))) END"
    )


def spark_minhash_sig(hashes_col: str) -> str:
    mins = ", ".join(
        f"array_min(transform({hashes_col}, h -> ({a}L * h + {b}L) % {P}))"
        for a, b in zip(A, B)
    )
    return f"array({mins})"


def spark_band_key(sig_col: str, band: int) -> str:
    """Fold ROWS signature entries of one band into a join key."""
    expr = "0L"
    for r in range(ROWS):
        expr = f"({expr} * 31 + element_at({sig_col}, {band * ROWS + r + 1}))"
    return expr


def spark_simhash_from_tokens(tok_col: str) -> str:
    """SIMHASH_BITS-wide SimHash of the distinct tokens of a
    *materialized* token-array column.

    Token bits come from the raw 60-bit md5 value
    (:func:`spark_str_hash_raw`) so all ``SIMHASH_BITS`` advertised
    bits actually vary.
    """
    th = f"transform(array_distinct({tok_col}), t -> {spark_str_hash_raw('t')})"
    bits = (
        f"transform(sequence(0, {SIMHASH_BITS - 1}), j -> CASE WHEN "
        f"aggregate({th}, 0L, (acc, h) -> acc + CASE WHEN (shiftright(h, j) & 1) = 1 "
        f"THEN 1 ELSE -1 END) > 0 THEN 1L ELSE 0L END)"
    )
    return f"aggregate({bits}, 0L, (acc, b) -> acc * 2 + b)"


# ----------------------------------------------------------- DuckDB side


def duck_tokens(col: str) -> str:
    return f"list_filter(string_split({col}, ' '), t -> t <> '')"


def duck_char_hash(s: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(split({s}, ''), c -> CAST(unicode(c) AS BIGINT))), "
        f"(a, b) -> (a * {BASE} + b) % {P})"
    )


def duck_str_hash(s: str) -> str:
    """DuckDB twin of :func:`spark_str_hash` (hex-literal cast)."""
    return f"(CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT) % {P})"


def duck_str_hash_raw(s: str) -> str:
    """DuckDB twin of :func:`spark_str_hash_raw`."""
    return f"CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"


def duck_shingles(col: str, w: int = SHINGLE_W) -> str:
    toks = duck_tokens(col)
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(w))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {w - 1}, 0)), i -> {parts}))"
    )


def duck_shingle_hashes(col: str, w: int = SHINGLE_W) -> str:
    return f"list_transform({duck_shingles(col, w)}, s -> {duck_str_hash('s')})"


def duck_minhash_sig(hashes_col: str) -> str:
    mins = ", ".join(
        f"list_min(list_transform({hashes_col}, h -> ({a} * h + {b}) % {P}))"
        for a, b in zip(A, B)
    )
    return f"[{mins}]"


def duck_band_key(sig_col: str, band: int) -> str:
    expr = "CAST(0 AS BIGINT)"
    for r in range(ROWS):
        expr = f"({expr} * 31 + {sig_col}[{band * ROWS + r + 1}])"
    return expr


def duck_band_rows(sig_cte: str = "sig") -> str:
    """One ``(doc_id, band, key)`` row per LSH band of every signature
    in ``sig_cte`` (the oracle twin of the band step)."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {duck_band_key('sig', b)} AS key "
        f"FROM {sig_cte}"
        for b in range(BANDS)
    )


def duck_simhash(col: str) -> str:
    th = (
        f"list_transform(list_distinct({duck_tokens(col)}), "
        f"t -> {duck_str_hash_raw('t')})"
    )
    bits = (
        f"list_transform(generate_series(0, {SIMHASH_BITS - 1}), j -> CASE WHEN "
        f"list_sum(list_transform({th}, h -> CASE WHEN ((h >> j) & 1) = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {bits}), "
        f"(a, b) -> a * 2 + b)"
    )
