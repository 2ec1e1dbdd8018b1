"""Portable (cross-engine deterministic) hashing & tokenization — Spark side.

Every primitive here has an exactly-matching DuckDB SQL fragment in
``functions.oracle`` so the dedup / fingerprint / LSH operators stay on the
DuckDB-oracle-checkable path (SURVEY.md §5.1).

Each primitive has ONE form: a ``*_sql`` builder returning Spark SQL
text, which callers splice into ``F.expr``/``selectExpr`` (one parse,
where a Column tree costs one py4j round trip per node). Caller SQL is
only ever spliced into a builder's higher-order-function ARRAY
arguments, never into its lambda bodies, so a builder's lambda names
cannot capture the caller's.

The base hash is the first 15 hex chars of md5 parsed as a 60-bit
non-negative int — md5 is bit-identical across engines, and 15 hex chars
(60 bits) fit a signed 64-bit long with headroom for modular arithmetic.

All min-hash arithmetic is done mod MERSENNE31 after reducing the base
hash, so a*h+b stays well inside int64 (a < 2^20, h' < 2^31).
"""

from __future__ import annotations

from .binding import let_sql

MERSENNE31 = 2147483647  # 2^31 - 1

# Fixed permutation parameters for MinHash (NUM_PERM odd-prime multipliers).
MINHASH_A = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67]
MINHASH_B = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
NUM_PERM = len(MINHASH_A)
LSH_BANDS = 4
LSH_ROWS = NUM_PERM // LSH_BANDS

SIMHASH_BITS = 16


def tokens_sql(col_sql: str) -> str:
    """Lowercased whitespace tokens of a string, empty strings dropped.

    The filter (not trim) handles EVERY whitespace edge: Spark's trim
    strips only ASCII spaces, so "hello\\n" used to yield a trailing
    empty token and "\\n\\t" a whole phantom token — inflating token
    counts and polluting shingles for newline-terminated documents.
    Mirrored exactly by functions.oracle.tokens (DuckDB list_filter)."""
    return f"filter(split(lower({col_sql}), '\\\\s+'), x -> x != '')"


def word_shingles_sql(toks_sql: str, k: int = 3) -> str:
    """k-word shingles of a token array (1-based element_at, matching
    DuckDB list indexing).

    The input array is let-bound (functions.binding.let_sql): the shingle
    body references it k+2 times, and those references live inside a
    `transform` lambda, which is evaluated interpreted — no codegen
    subexpression elimination — so an inline argument like
    `tokens_sql(text)` used to be RE-EVALUATED per shingle element per
    reference. Measured on sf0.1 documents at 32 partitions: 1.47s
    inline vs 0.34s bound for the bare pipeline (~4.5x); the whole
    dedup sketch family sits on this helper. Passing an already-bound
    lambda variable just adds a no-op 1-element array wrap."""
    els = ", ".join(
        f"element_at(t, i + {j})" if j else "element_at(t, i)"
        for j in range(k)
    )
    body = (
        f"CASE WHEN size(t) >= {k} THEN "
        f"transform(sequence(1, size(t) - {k - 1}), i -> concat_ws(' ', {els}))"
        " ELSE CAST(array() AS array<string>) END"
    )
    return let_sql(toks_sql, "t", body)


def md5_long_sql(col_sql: str) -> str:
    """60-bit deterministic hash of a string (first 15 hex chars of md5)."""
    return f"CAST(conv(substring(md5({col_sql}), 1, 15), 16, 10) AS BIGINT)"


def hash_array_sql(arr_sql: str) -> str:
    """``md5_long_sql`` of every element of a string array."""
    return f"transform({arr_sql}, h -> {md5_long_sql('h')})"


def shingle_hashes_sql(text_sql: str, k: int = 3) -> str:
    """60-bit hashes of a text's k-word shingles, in shingle order (one
    per shingle, repeats kept): tokenize -> k-shingle -> ``md5_long_sql``,
    the one per-document shingle set of the dedup family, fingerprints
    and decontamination. Oracle mirror:
    ``O.hash_array(O.word_shingles(O.tokens(x), k))``."""
    return hash_array_sql(word_shingles_sql(tokens_sql(text_sql), k))


def md5_pair_sql(col_sql: str) -> str:
    """120-bit deterministic hash of a string: struct<h1,h2> of two
    60-bit longs from md5 hex chars 1-15 and 16-30. For keys that must
    stay collision-free at extreme cardinality — at 2.5e13 spans
    (~100 TB of text) the birthday bound is n^2/2^121 ~ 2e-10, where
    the single 60-bit ``md5_long_sql`` is past its birthday point by
    seven orders of magnitude (n^2/2^61 >> 1: guaranteed collisions).
    Two longs (16 bytes) shuffle leaner than the 32-char hex string; the
    md5 is let-bound so both halves evaluate it once per element.
    Oracle mirror: ``functions.oracle.md5_span_key`` (substr(md5,1,30)
    — the same 120 bits, so both engines group identically)."""
    return let_sql(
        f"md5({col_sql})",
        "m",
        "named_struct("
        "'h1', CAST(conv(substring(m, 1, 15), 16, 10) AS BIGINT), "
        "'h2', CAST(conv(substring(m, 16, 15), 16, 10) AS BIGINT))",
    )


def hash_pair_array_sql(arr_sql: str) -> str:
    """``md5_pair_sql`` of every element of a string array."""
    return f"transform({arr_sql}, x -> {md5_pair_sql('x')})"


def minhash_signature_sql(hashes_col: str) -> str:
    """SQL string of the NUM_PERM-wide MinHash signature over a 60-bit
    hash array column (referenced by NAME) — for callers composing
    whole projections in one parse.

    mh_j = min over h of ((a_j * (h mod P) + b_j) mod P); empty input
    yields P (the max possible value) per slot so empty docs never
    collide with real content.
    """
    slots = ", ".join(
        f"coalesce(array_min(transform({hashes_col}, "
        f"h -> ({a} * (h % {MERSENNE31}) + {b}) % {MERSENNE31})), {MERSENNE31}L)"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return f"array({slots})"


def simhash16_sql(hashes_sql: str) -> str:
    """16-bit SimHash of a 60-bit hash array (one parse — a Column loop
    was ~2300 py4j round trips per construction).

    bit b is set iff sum over tokens of (2*((h>>b)&1) - 1) > 0.
    """
    votes = " + ".join(
        f"(CASE WHEN aggregate({hashes_sql}, 0, (acc, h) -> "
        f"acc + CAST((((shiftright(h, {b}) & 1) * 2) - 1) AS INT)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"(0 + {votes})"


def hyperplane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1).

    Derived from md5 of 'p:d' — reproducible in any engine; used by the
    sign-LSH bucketing for ANN (operators.vectors.lsh_bucket).
    """
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % 2000000) / 1000000.0 - 1.0
