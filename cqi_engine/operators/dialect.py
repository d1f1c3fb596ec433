"""Dual-dialect SQL fragment builders (Spark SQL + DuckDB).

Every web-scale operator whose semantics are SQL-expressible is defined
ONCE here as a pair of dialect emitters, so the Spark implementation and
the DuckDB correctness oracle are parity-exact *by construction*: the
same integer/string arithmetic, the same evaluation order.

Parity ground rules (verified empirically, see tests/test_oracle_parity.py):
- integer arithmetic: use explicit ``L`` bigint literals on the Spark side
  (ANSI mode overflows int32 otherwise); keep magnitudes < 2^62.
- list indexing: 1-based on both sides (`element_at` / `list_extract`).
- `split(col, ' ')` (Spark, regex-literal) == `string_split(col, ' ')`
  (DuckDB) for single-space delimiters; empty tokens filtered identically.
- `round(x, n)` is HALF_UP on both sides (NOT Python banker's).
- float math (exp/sqrt/log) is libm on both sides — bit-identical for
  identical double inputs; we still round exported doubles to <=6 places.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"

# polynomial rolling-hash base powers (base 31, first 8 chars).  ascii()
# returns the full Unicode codepoint on both engines (<= 0x10FFFF), so a
# single term is <= 0x10FFFF * 31^7 ~ 3.1e16 and the 8-term sum stays
# below 2.5e17 — well inside int64 even for multibyte text.
POW31 = [31 ** i for i in range(8)]

# MinHash permutation parameters (a*(h mod p)+b mod p).  The token hash is
# reduced mod p BEFORE the permutation so a*(h%p) < 2165*2^31 ~ 4.7e12 for
# ANY input text (ANSI-mode overflow-safe); permuting the raw polyhash
# would overflow int64 on multibyte tokens.
MINHASH_PRIME = (1 << 31) - 1
MINHASH_PERMS = [(709 + 97 * j, 3571 + 131 * j) for j in range(16)]
LSH_BANDS = 4  # 16 hashes -> 4 bands x 4 rows
# Verify threshold as an exact integer ratio: the SQL verify predicates
# (`jac >= NUM/DEN`) and the size-ratio prefilter (`DEN*min(|A|,|B|) >=
# NUM*max(|A|,|B|)`, lossless because jac <= min/max) MUST encode the
# same bound — derive both from here, never restate the literal.
MINHASH_JACCARD_NUM = 9
MINHASH_JACCARD_DEN = 10
MINHASH_JACCARD = MINHASH_JACCARD_NUM / MINHASH_JACCARD_DEN  # 0.9


def spark_quote(text: str, ident: bool = False) -> str:
    """Spark SQL string literal (or, with ``ident``, backquoted identifier)
    for arbitrary text.  Identifiers double their backticks.  Literals
    escape ``\\`` and ``'`` with a backslash (Spark drops an unknown
    escape's backslash, so ``'c:\\x'`` would read as ``c:x``, and a
    doubled ``''`` would concatenate two literals) and write control
    characters as ``\\uXXXX``."""
    if ident:
        return "`" + text.replace("`", "``") + "`"
    out = []
    for ch in text:
        if ch in "\\'":
            out.append("\\" + ch)
        elif ch < " ":
            out.append(f"\\u{ord(ch):04x}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def arr_lit(vals, dialect: str) -> str:
    if dialect == SPARK:
        return "array(" + ",".join(f"{v}L" for v in vals) + ")"
    return "[" + ",".join(str(v) for v in vals) + "]"


def str_arr_lit(vals, dialect: str) -> str:
    body = ",".join("'" + v.replace("'", "''") + "'" for v in vals)
    return ("array(" + body + ")") if dialect == SPARK else ("[" + body + "]")


def at(list_expr: str, idx_expr: str, dialect: str) -> str:
    """1-based list index."""
    if dialect == SPARK:
        # element_at requires an INT index; arithmetic over bigint columns
        # (e.g. p_partkey % 17 + 1) widens to BIGINT, so always narrow.
        return f"element_at({list_expr}, cast(({idx_expr}) as int))"
    return f"list_extract({list_expr}, {idx_expr})"


def seq1(n_expr: str, dialect: str) -> str:
    """[1..n] inclusive."""
    if dialect == SPARK:
        return f"sequence(1, {n_expr})"
    return f"range(1, ({n_expr})+1)"


def lmap(list_expr: str, lam: str, dialect: str) -> str:
    fn = "transform" if dialect == SPARK else "list_transform"
    return f"{fn}({list_expr}, {lam})"


def lfilter(list_expr: str, lam: str, dialect: str) -> str:
    fn = "filter" if dialect == SPARK else "list_filter"
    return f"{fn}({list_expr}, {lam})"


def lsum(list_expr: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"aggregate({list_expr}, 0L, (acc, x) -> acc + x)"
    return f"coalesce(list_aggregate({list_expr}, 'sum'), 0)"


def lmin(list_expr: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"array_min({list_expr})"
    return f"list_aggregate({list_expr}, 'min')"


def lsize(list_expr: str, dialect: str) -> str:
    return (f"size({list_expr})" if dialect == SPARK
            else f"len({list_expr})")


def contains(list_expr: str, item_expr: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"array_contains({list_expr}, {item_expr})"
    return f"list_contains({list_expr}, {item_expr})"


def split_ws(col: str, dialect: str) -> str:
    """Whitespace tokenization, empty tokens dropped (identical both sides)."""
    base = (f"split({col}, ' ')" if dialect == SPARK
            else f"string_split({col}, ' ')")
    return lfilter(base, "x -> x <> ''", dialect)


def tokens_distinct(col: str, dialect: str) -> str:
    fn = "array_distinct" if dialect == SPARK else "list_distinct"
    return f"{fn}({split_ws(col, dialect)})"


def polyhash(tok: str, dialect: str) -> str:
    """Deterministic token hash: sum ascii(c_i)*31^(i-1), first 8 chars.

    Plays the role the reference's surface-ranking lookup tables play
    (definitions.py:117-129): a portable, engine-agnostic scalar key.
    """
    # the char-position lambda variable is `ci`, NOT `i`: callers pass tok
    # expressions that may themselves live inside an `i ->` lambda (the
    # fingerprint template's token index), and a shared name is CAPTURED
    # by this inner lambda in both dialects — the generated SQL then
    # indexes the token array by char position, which under Spark's ANSI
    # mode is an out-of-bounds ERROR whenever a token is longer than the
    # doc's token count (found by the degenerate-corpus sweep).
    n = f"least(length({tok}), 8)" if dialect == SPARK else f"least(len({tok}), 8)"
    body = (f"ascii(substr({tok}, ci, 1)) * "
            + at(arr_lit(POW31, dialect), "ci", dialect))
    return lsum(lmap(seq1(n, dialect), f"ci -> {body}", dialect), dialect)


def token_hashes(col: str, dialect: str) -> str:
    return lmap(tokens_distinct(col, dialect), f"t -> {polyhash('t', dialect)}",
                dialect)


def minhash_sig(ths: str, dialect: str) -> list[str]:
    """16 MinHash values over a token-hash ARRAY expression (the oracle
    passes ``token_hashes(text)``, the Spark plan a materialized column)."""
    out = []
    for a, b in MINHASH_PERMS:
        permuted = lmap(ths,
                        f"h -> ({a}L * (h % {MINHASH_PRIME}L) + {b}L) "
                        f"% {MINHASH_PRIME}L"
                        if dialect == SPARK else
                        f"h -> ({a} * (h % {MINHASH_PRIME}) + {b}) "
                        f"% {MINHASH_PRIME}",
                        dialect)
        out.append(lmin(permuted, dialect))
    return out


def band_keys(ths: str, dialect: str) -> list[str]:
    """LSH band keys: combine each band's 4 minhashes into one bigint.

    Mixing uses mod-(2^31-1) polynomial accumulation — small enough that
    acc * 1000003 + minhash stays below 2^63 (ANSI overflow-safe), and
    identical on both sides so collisions (if any) are shared.  Every
    key lies in [0, 2^31-1), so ``band_idx * MINHASH_PRIME + key`` is an
    injective one-column band identity.
    """
    sig = minhash_sig(ths, dialect)
    rows = len(sig) // LSH_BANDS
    keys = []
    m = (1 << 31) - 1
    for band in range(LSH_BANDS):
        expr = "0"
        for r in range(rows):
            h = sig[band * rows + r]
            expr = (f"(({expr}) * 1000003{'L' if dialect == SPARK else ''} "
                    f"+ ({h})) % {m}{'L' if dialect == SPARK else ''}")
        keys.append(expr)
    return keys


def first_band_owner(n_bands: int, key_expr) -> str:
    """Conjunct restricting a banded self-join to first-colliding-band
    emission: a pair row is suppressed when any EARLIER band j also
    collides, so every pair is emitted exactly once with no global
    DISTINCT.  ``key_expr(side, j)`` renders band j's key for join side
    'a'/'b' (a scalar column or a recomputable expression).  Shared by
    the minhash and simhash candidate stages; single-band configs
    degenerate to 'true'."""
    return " and ".join(
        [f"not (a.band_idx > {j} "
         f"and {key_expr('a', j)} = {key_expr('b', j)})"
         for j in range(n_bands - 1)] or ["true"])


SIMHASH60_BANDS = 4     # 4 bands x 15 bits; exact for hamming <= 3
SIMHASH60_BAND_BITS = 15


def simhash60(ths: str, dialect: str) -> str:
    """60-bit SimHash over a token-hash ARRAY column/expression.

    Four affine mixes (MINHASH_PERMS[:4], mod 2^31-1) each contribute 15
    bits; bit j of mix p sets 2^(15p+j) iff the majority of token hashes
    have that bit set after mixing (bit_k = 1 iff sum of (2*bit_k(h)-1)
    over tokens > 0 — Charikar 2002 with ±1 weights).  60 bits, not 64:
    every value, band shift and xor stays inside a signed 64-bit bigint
    in BOTH dialects (Spark ANSI and DuckDB error on overflow rather
    than wrap).  Pass a pre-computed token-hash array column name so the
    60 bit terms share one tokenization, not 60.
    """
    m = MINHASH_PRIME
    terms = []
    for p, (a, b) in enumerate(MINHASH_PERMS[:SIMHASH60_BANDS]):
        mix = (f"h -> ({a}L * (h % {m}L) + {b}L) % {m}L"
               if dialect == SPARK else
               f"h -> ({a} * (h % {m}) + {b}) % {m}")
        mixed = lmap(ths, mix, dialect)
        div = "div" if dialect == SPARK else "//"
        for j in range(SIMHASH60_BAND_BITS):
            sgn = lmap(mixed, f"x -> 2 * ((x {div} {1 << j}) % 2) - 1",
                       dialect)
            terms.append(
                f"(case when ({lsum(sgn, dialect)}) > 0 "
                f"then {1 << (SIMHASH60_BAND_BITS * p + j)} else 0 end)")
    return "(" + " + ".join(terms) + ")"
