"""DuckDB SQL fragments exactly matching ``functions.hashing``.

Each function returns a SQL expression string parameterized on an input
expression. Used to build ``oracle_sql()`` strings that the driver runs
side-by-side with the Spark queries.
"""

from __future__ import annotations

from .hashing import LSH_BANDS, LSH_ROWS, MERSENNE31, MINHASH_A, MINHASH_B, SIMHASH_BITS


def md5_long(x: str) -> str:
    """60-bit int from first 15 hex chars of md5 — mirrors hashing.md5_long_sql."""
    return (
        "list_reduce(list_transform(string_split(substr(md5(" + x + "),1,15),''),"
        " c -> CAST(instr('0123456789abcdef', c)-1 AS BIGINT)), (a,b) -> a*16+b)"
    )


def tokens(x: str) -> str:
    # empty tokens dropped — the exact mirror of functions.hashing.tokens_sql.
    # The whitespace class is spelled EXPLICITLY as Java's \s
    # ([ \t\n\x0B\f\r]): RE2's \s excludes vertical tab \x0B, so the
    # previous '\s+' spelling silently tokenized '\x0B'-bearing docs
    # differently across the two engines (the same Java-vs-RE2 gap
    # normalize_text already spells out)
    return (
        "list_filter(string_split_regex(lower(" + x + "), "
        r"'[ \t\n\x0B\f\r]+'), t -> t <> '')"
    )


def word_shingles(toks: str, k: int = 3) -> str:
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(k))
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(generate_series(1, len({toks})-{k - 1}), i -> {parts}) "
        f"ELSE [] END"
    )


def hash_array(arr: str) -> str:
    return f"list_transform({arr}, s -> {md5_long('s')})"


def md5_span_key(x: str) -> str:
    """120-bit span key: first 30 hex chars of md5 — the exact same
    bits ``hashing.md5_pair_sql`` packs into its two 60-bit longs, so both
    engines partition spans into identical hash groups."""
    return f"substr(md5({x}),1,30)"


def minhash_signature(hashes: str) -> str:
    slots = []
    for a, b in zip(MINHASH_A, MINHASH_B):
        slots.append(
            f"coalesce(list_min(list_transform({hashes}, "
            f"h -> ({a}*(h % {MERSENNE31}) + {b}) % {MERSENNE31})), {MERSENNE31})"
        )
    return "[" + ", ".join(slots) + "]"


def simhash16(hashes: str) -> str:
    bits = []
    for b in range(SIMHASH_BITS):
        vote = f"list_sum(list_transform({hashes}, h -> ((h >> {b}) & 1)*2 - 1))"
        bits.append(f"(CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS INT)"


def dot(a: str, b: str) -> str:
    """Sequential double-precision dot product (same fold order as Spark's
    F.aggregate over zip_with)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (s, x) -> s + x)"
    )


def l2_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        f"(s, x) -> s + x))"
    )


def cosine(a: str, b: str) -> str:
    return f"({dot(a, b)}) / nullif(({l2_norm(a)}) * ({l2_norm(b)}), 0.0)"


__all__ = [
    "md5_long",
    "tokens",
    "word_shingles",
    "hash_array",
    "minhash_signature",
    "simhash16",
    "dot",
    "l2_norm",
    "cosine",
    "LSH_BANDS",
    "LSH_ROWS",
]
