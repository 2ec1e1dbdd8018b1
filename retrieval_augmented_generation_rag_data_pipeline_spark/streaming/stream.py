"""Structured Streaming shell (SURVEY.md §2.9 T1-T4).

The reference's hand-rolled micro-batch loop (src/main.py:133-158:
while True / sleep(30) / ledger set / 2-files-per-cycle cap) maps to:

  T1 poll trigger      -> trigger(processingTime=...) / availableNow
  T2 exactly-once      -> file-source checkpoint (WAL of seen files)
  T3 rate limiting     -> maxFilesPerTrigger
  T4 chained stages    -> foreachBatch running the batch DAG

Only the loop lives here: every stage a micro-batch runs is a batch
operator, so the streaming and batch paths cannot drift apart.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def read_document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 2,
    schema: T.StructType = DOC_SCHEMA,
) -> DataFrame:
    """Streaming file source with the reference's ingest-rate cap
    (2 files/cycle, src/aws_bucket.py:186-191 -> maxFilesPerTrigger)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def run_stream(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """foreachBatch wrapper: runs the batch operator DAG per micro-batch
    with exactly-once file tracking via the checkpoint (replaces the
    JSON ledger at reference src/aws_bucket.py:55-68)."""
    writer = stream_df.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint
    )
    if trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
