"""The poll loop (reference src/main.py:133-158) as a Structured
Streaming file source + foreachBatch runner."""

from __future__ import annotations

from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.streaming.stream import (
    read_document_stream,
    run_stream,
)

SF = "/root/testdata/sf0.001"


def test_stream_foreachbatch_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    docs.write.parquet(src)

    seen = []
    q = run_stream(
        read_document_stream(spark, src, max_files_per_trigger=1),
        lambda df, epoch: seen.append(df.count()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert sum(seen) == 20
    # restart from the same checkpoint: nothing new to process (T2)
    seen2 = []
    q2 = run_stream(
        read_document_stream(spark, src),
        lambda df, epoch: seen2.append(df.count()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert sum(seen2) == 0


def test_full_pipeline_as_stream(spark, tmp_path):
    """EP1 restated (reference src/main.py:133-158): the batch DAG
    (chunk -> embed -> vector-index) runs per micro-batch via
    foreachBatch; the checkpoint replaces the JSON ledger, so every doc
    is indexed exactly once across triggers."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import (
        chunk_text,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.pipeline import (
        embed_chunks,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources import sinks

    src = str(tmp_path / "docs")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    docs.repartition(3).write.parquet(src)
    index_path = str(tmp_path / "stream_index")

    def index_batch(batch_df, _epoch):
        chunks = chunk_text(batch_df, chunk_words=32)
        sinks.write_vector_index(embed_chunks(chunks), index_path, mode="append")

    q = run_stream(
        read_document_stream(spark, src, max_files_per_trigger=1),
        index_batch,
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(180)

    index = spark.read.parquet(index_path)
    indexed_docs = {r.source_file for r in index.select("source_file").distinct().collect()}
    expected = {
        str(r.doc_id)
        for r in docs.filter(F.length(F.trim("text")) > 0).select("doc_id").collect()
    }
    assert indexed_docs == expected
    # restart: checkpoint knows every file — no duplicate indexing
    n_before = index.count()
    q2 = run_stream(
        read_document_stream(spark, src),
        index_batch,
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(180)
    assert spark.read.parquet(index_path).count() == n_before
