"""Processed-file ledger (SURVEY.md §1.1 D7, §2.9 T2).

The reference persists a set[str] of processed S3 keys as JSON
(src/aws_bucket.py:55-68) and consults it to skip work (:180). Batch
analog: an append-only Parquet ledger + left_anti join. Streaming analog:
the Structured Streaming file-source checkpoint does this natively
(streaming.stream.run_stream) — preferred at scale because it avoids
a read-modify-write table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.joins import sql_string

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("processed_at", T.TimestampType(), True),
    ]
)


def load_ledger(spark: SparkSession, path: str) -> DataFrame:
    """First run = no ledger yet = empty frame. ONLY the missing-path
    analysis error maps to empty: a transient read failure (S3 flake,
    corrupt footer, permission denied) must FAIL the batch — treating
    it as an empty ledger would silently disable dedup and re-ingest
    everything already processed."""
    from pyspark.errors.exceptions.base import AnalysisException

    try:
        return spark.read.schema(LEDGER_SCHEMA).parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], LEDGER_SCHEMA)
        raise


def append_processed(df: DataFrame, key_col: str, path: str) -> None:
    # NULL keys never appear: LEDGER_SCHEMA declares key non-nullable,
    # and a NULL row would poison load_ledger's schema assumption (the
    # optimizer may assume non-null over the parquet) — filtered here
    # in lockstep with pending()'s null-key drop
    (
        df.filter(f"`{key_col}` IS NOT NULL")
        .selectExpr(
            f"CAST(`{key_col}` AS STRING) AS key",
            "current_timestamp() AS processed_at",
        )
        .write.mode("append")
        .parquet(path)
    )


def pending(
    candidates: DataFrame,
    ledger: DataFrame,
    key_col: str = "key",
    strict: bool = False,
) -> DataFrame:
    """Candidates minus processed (reference src/aws_bucket.py:180).

    No broadcast hint — the ledger grows without bound, so AQE picks
    broadcast only while it fits. No distinct on the ledger side either:
    a left anti join only needs to know whether a key exists, so
    duplicate ledger keys change no result, while a distinct would cost
    a shuffle-map stage and a Spark job of its own before the join.

    NULL-keyed candidates are DROPPED (with the same rationale as an
    equi-join dropping null keys): a NULL key can never be ledgered,
    so keeping it "pending" would reprocess the same row on every run
    forever while appending schema-violating NULL ledger rows — the
    silent-infinite-reprocess failure is worse than the visible drop.
    Because the drop is otherwise invisible (an upstream regression
    that NULLs keys would silently shrink the pending set),
    ``strict=True`` turns it into a loud failure: any NULL key raises
    at EXECUTION time via a per-row raise_error branch — no extra
    driver-side count action, the check rides the same scan."""
    key = f"`{key_col}`"
    if strict:
        # The guard IS the key expression and the IS NOT NULL filter is
        # omitted on this path — deliberately. Were both present, the
        # optimizer could merge them into `isNotNull(k) AND <guard>`
        # and short-circuit NULL rows past the raise; with the guard
        # as the join key itself, every row must evaluate it (the
        # anti-join hashes the key), so a NULL key always raises.
        msg = sql_string(
            "ledger.pending(strict=True): NULL candidate key — "
            "an unledgerable row reached the pending scan "
            f"(key_col={key_col!r})"
        )
        candidates = candidates.withColumn(
            key_col,
            F.expr(f"CASE WHEN {key} IS NULL THEN raise_error({msg}) ELSE {key} END"),
        )
    else:
        candidates = candidates.filter(f"{key} IS NOT NULL")
    led = ledger.selectExpr("key AS _ledger_key")
    return candidates.join(led, F.expr(f"{key} = _ledger_key"), "left_anti")
