"""Relational operator surface (SURVEY.md §2.2/§2.4/§2.6/§2.7).

Thin, explicit, testable DataFrame->DataFrame functions. Catalyst does
the heavy lifting (pushdown, pruning, broadcast selection, codegen);
these wrappers exist to name each capability of the reference pipeline
and pin its exact semantics with a citation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    NumericType,
    ShortType,
)


# ---- filters / projections (reference §2.2) --------------------------------

def filter_suffix(df: DataFrame, col: str, suffix: str) -> DataFrame:
    """Case-insensitive suffix predicate (reference src/aws_bucket.py:176)."""
    return df.filter(F.lower(F.col(col)).endswith(suffix.lower()))


def filter_nonempty(df: DataFrame, col: str) -> DataFrame:
    """Drop rows with blank text (reference src/embedding_engine.py:64-68)."""
    return df.filter(F.length(F.trim(F.col(col))) > 0)


def filter_notnull(df: DataFrame, col: str) -> DataFrame:
    """Null guard (reference src/transcription.py:200)."""
    return df.filter(F.col(col).isNotNull())


def filter_year(df: DataFrame, ts_col: str, year: int) -> DataFrame:
    """Year-equality over a timestamp (reference testing/check_bucket_files.py:112)."""
    return df.filter(F.year(F.col(ts_col)) == year)


# ---- aggregations (reference §2.4) ------------------------------------------

def agg_conditional_counts(df: DataFrame, cond: Column) -> DataFrame:
    """processed/failed counters in one pass (reference src/main.py:57-88).

    The counters PARTITION the batch (processed + failed == total, the
    invariant the reference's tally loop maintains): a NULL condition
    counts as FAILED — ``~cond`` alone is NULL for NULL inputs, which
    would leave such rows in neither bucket and silently break the
    invariant monitoring checks assert on."""
    return df.agg(
        F.count(F.when(cond, 1)).alias("processed_count"),
        F.count(F.when(~F.coalesce(cond, F.lit(False)), 1)).alias(
            "failed_count"
        ),
        F.count("*").alias("total"),
    )


def agg_histogram(df: DataFrame, col: str) -> DataFrame:
    """Frequency histogram ordered by count desc (reference
    testing/check_bucket_files.py:127-132). Tie-break: key asc."""
    return (
        df.groupBy(col)
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc(col))
    )


def agg_by_year(df: DataFrame, ts_col: str) -> DataFrame:
    """Per-year counts, newest first (reference testing/check_bucket_files.py:56-86)."""
    return (
        df.groupBy(F.year(F.col(ts_col)).alias("year"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("year"))
    )


def concat_group_texts(
    df: DataFrame, group_cols: Sequence[str], order_col: str, text_col: str
) -> DataFrame:
    """Ordered string-concat aggregation (reference src/transcription.py:207-208):
    texts stripped and space-joined in explicit order — Spark groups are
    unordered, so the ordering is materialized via sorted structs."""
    return df.groupBy(*group_cols).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(order_col), F.trim(F.col(text_col)).alias("t")))
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("text")
    )


# ---- set ops (reference §2.7) ------------------------------------------------

def distinct_keys(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """set() construction (reference src/aws_bucket.py:63)."""
    return df.select(*cols).dropDuplicates(list(cols))


def union_sources(dfs: Sequence[DataFrame]) -> DataFrame:
    """Union-of-globs (reference src/transcription.py:431-432) as unionByName."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def rank_small(
    df: DataFrame,
    order: Sequence[tuple[str, str]],
    rank_col: str = "rank",
) -> DataFrame:
    """Dense 1-based total-order rank for a SMALL (post-limit) DataFrame
    without any window: collect the <= k rows into ONE sorted array
    (struct sort keys lead, the full row rides as payload) and
    posexplode — rank is the array position + 1.

    `order` is [(col, "asc"|"desc"), ...] evaluated lexicographically;
    the key must be total (no ties), e.g. terminated by a unique id.
    Payload columns must be orderable types (no map columns): the sort
    struct carries the whole row, and under a total key the payload
    comparison is never reached semantically but must still typecheck.

    Why not `row_number() OVER (ORDER BY ...)`: an unpartitioned window
    funnels input through one task AND logs the WindowExec single-
    partition warning — and Spark 4's EliminateWindowPartitions strips
    a foldable PARTITION BY lit(0), so the window form can't be made
    quiet. The single-row aggregate here also funnels, but only the
    <= k post-limit rows ever cross its Exchange.

    Why not the previous broadcast non-equi self-join (round 9): a
    self-join consumes its input TWICE, which forced a lineage pin at
    runtime and still doubled the full upstream lineage in unpinned
    plan inspection — hybrid_rrf's recorded shape compounded to 24
    Exchanges because its fusion rank replayed two copies of a BM25
    subtree that had already self-joined once internally. The sorted-
    array form consumes the input ONCE: no pin, no duplication, one
    <= k-row Exchange, and the recorded shape is the true shape.

    "desc" is implemented as unary minus inside the struct key, which
    is only meaningful for numeric columns — a string column would be
    cast to double (NULLs under non-ANSI), silently ranking every row
    1. Enforced: a desc direction on a non-numeric column raises.
    NULL keys rank LAST on every direction (an explicit null-indicator
    field leads each key — bare struct ordering would rank a NULL
    first, i.e. BEST, under desc). Integral desc keys are widened
    BEFORE negation (byte/short/int -> long, long -> decimal(20,0)) so
    a key of exactly the type's MIN_VALUE — whose two's-complement
    negation is itself — can neither mis-sort nor trip an ANSI
    overflow; widening is order-preserving and exact, so rankings are
    unchanged for every other value.
    """
    for c, direction in order:
        if direction == "desc" and not isinstance(
            df.schema[c].dataType, NumericType
        ):
            raise ValueError(
                f"rank_small: desc ordering requires a numeric column; "
                f"{c!r} is {df.schema[c].dataType.simpleString()} — negate "
                "via an explicit numeric key expression instead"
            )
    key_fields = []
    for i, (c, direction) in enumerate(order):
        col = F.col(c)
        if direction == "desc":
            # widen integral keys so MIN_VALUE negation can't overflow
            # (see docstring); fractional/decimal keys negate in place
            dt = df.schema[c].dataType
            if isinstance(dt, (ByteType, ShortType, IntegerType)):
                col = col.cast("long")
            elif isinstance(dt, LongType):
                col = col.cast("decimal(20,0)")
            col = -col
        elif direction != "asc":
            raise ValueError(f"direction must be asc|desc, got {direction}")
        # NULLS LAST on every key, matching row_number() OVER (ORDER BY
        # x DESC): a NULL key sorts FIRST inside sort_array's struct
        # ordering, which would hand a NULL-score row rank 1 under desc;
        # the indicator field (0 = present, 1 = null) restores the
        # window semantics without touching non-null orderings
        key_fields.append(
            F.col(c).isNull().cast("int").alias(f"_n{i}")
        )
        key_fields.append(col.alias(f"_k{i}"))
    out_cols = df.columns
    row = F.struct(
        *key_fields, F.struct(*[F.col(c) for c in out_cols]).alias("_p")
    )
    return (
        df.agg(F.sort_array(F.collect_list(row)).alias("_rows"))
        .select(F.posexplode("_rows").alias("_i", "_r"))
        .select(
            *[F.col(f"_r._p.{c}").alias(c) for c in out_cols],
            (F.col("_i") + 1).cast("long").alias(rank_col),
        )
    )
