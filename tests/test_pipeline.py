from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import chunk_text
from retrieval_augmented_generation_rag_data_pipeline_spark.plans.pipeline import (
    embed_chunks,
    mock_embed_sql,
    run_once,
    search,
)

SF = "/root/testdata/sf0.001"


def test_chunk_text_covers_all_words(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(70)))], ["doc_id", "text"]
    )
    chunks = chunk_text(df, chunk_words=32).collect()
    assert [c.chunk_idx for c in chunks] == [0, 1, 2]
    assert [c.n_words for c in chunks] == [32, 32, 6]
    joined = " ".join(c.chunk_text for c in sorted(chunks, key=lambda c: c.chunk_idx))
    assert joined == " ".join(f"w{i}" for i in range(70))


def test_mock_embed_deterministic_unit_norm(spark):
    df = spark.createDataFrame([("hello world",), ("hello world",), ("x",)], ["t"])
    rows = df.selectExpr(f"{mock_embed_sql('t')} AS e").collect()
    assert rows[0].e == rows[1].e
    assert rows[0].e != rows[2].e
    assert sum(v * v for v in rows[0].e) == pytest.approx(1.0)


def test_run_once_and_search(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    index_path = str(tmp_path / "index")
    ledger_path = str(tmp_path / "ledger")
    index = run_once(spark, docs, index_path, ledger_path=ledger_path)
    n = spark.read.parquet(index_path).count()
    assert n > 50  # chunking fans out
    # incremental: second cycle sees everything in the ledger -> no new rows
    index2 = run_once(spark, docs, str(tmp_path / "index2"), ledger_path=ledger_path)
    assert index2.count() == 0

    # retrieval: querying with an indexed chunk's own text must return it as top hit
    sample = spark.read.parquet(index_path).orderBy("source_file", "text").first()
    q = spark.createDataFrame([(0, sample.text)], ["query_id", "query_text"])
    hits = search(spark, index_path, q, k=3).collect()
    assert hits[0].sim == pytest.approx(1.0)


def test_asr_and_diarize_call_parity():
    """The model-call parameters must match the reference verbatim
    (src/transcription.py:152-168 generation set + batch size;
    :238-244 speaker bounds) — pinned via the attributes the factories
    expose, so parity survives refactors even though the heavy models
    never load in this container."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.ml.udfs import (
        ASR_GENERATE_KWARGS,
        make_asr_udf,
        make_diarize_udf,
    )

    asr = make_asr_udf()
    assert asr.generate_kwargs == {
        "max_length": 448,
        "num_beams": 3,
        "temperature": 0.2,
        "no_repeat_ngram_size": 3,
        "length_penalty": 1.0,
    }
    assert asr.generate_kwargs == ASR_GENERATE_KWARGS
    assert asr.batch_size == 8
    assert asr.chunk_length_s == 30

    dia = make_diarize_udf()
    assert dia.speaker_bounds == {
        "num_speakers": 2,
        "min_speakers": 1,
        "max_speakers": 4,
    }


def test_vec_ids_reproducible_across_runs_and_partitioning(spark, tmp_path):
    """Rebuilding an index over the same docs must yield identical
    (vec_id, text) pairs — vec_id is content-keyed, not assignment-order
    -keyed, so persisted indexes stay joinable across runs."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    a = run_once(spark, docs, str(tmp_path / "ix_a"))
    b = run_once(spark, docs.repartition(7), str(tmp_path / "ix_b"))
    pa = sorted((r.vec_id, r.text) for r in a.collect())
    pb = sorted((r.vec_id, r.text) for r in b.collect())
    assert pa == pb
    assert len({v for v, _ in pa}) == len(pa)  # no vec_id collisions


def test_prepare_corpus_end_to_end_ledger(spark):
    """One row per input doc; quality drops never reach dedup; exact
    dups collapse to one survivor; split labels only on final keeps."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.pipeline import (
        prepare_corpus,
    )

    good = "the data table is a good clean row of the set and it holds value"
    rows = [
        (0, good),
        (1, good.upper()),          # exact dup of 0 after normalization
        (2, "tiny doc"),            # quality drop (too short)
        (3, "a completely different clean document with the usual data words in it"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in prepare_corpus(df, seed=1).collect()}
    assert set(out) == {0, 1, 2, 3}
    # quality drop: no dedup verdict, no split
    assert not out[2].keep_quality
    assert out[2].component_id is None and out[2].keep_dedup is None
    assert not out[2].keep and out[2].split is None
    # exact dup cluster: both share a component, lowest id survives
    assert out[0].component_id == out[1].component_id
    assert out[0].keep and not out[1].keep
    assert out[1].split is None
    # survivors get a split label
    assert out[0].split in {"train", "val", "test"}
    assert out[3].keep and out[3].split in {"train", "val", "test"}


def test_run_once_incremental_appends_not_wipes(spark, tmp_path):
    """Incremental (ledger) mode must APPEND to the vector index: the
    pending set is only the new docs, and the old static overwrite
    truncated the whole index path — destroying every previously
    indexed vector while its doc stayed ledgered (never re-indexed),
    and wiping the index to zero rows on an empty pending set."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.pipeline import run_once
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import read_vector_index

    idx = str(tmp_path / "idx")
    led = str(tmp_path / "led")
    words = " ".join(f"w{i}" for i in range(40))
    d1 = spark.createDataFrame([(1, words), (2, words)], "doc_id long, text string")
    run_once(spark, d1, idx, ledger_path=led)
    n1 = read_vector_index(spark, idx).count()
    assert n1 > 0
    # second cycle: one new doc; docs 1-2 are ledgered and skipped
    d2 = spark.createDataFrame(
        [(1, words), (2, words), (3, words)], "doc_id long, text string"
    )
    run_once(spark, d2, idx, ledger_path=led)
    n2 = read_vector_index(spark, idx).count()
    assert n2 == n1 + n1 // 2  # old vectors survive, doc 3's appended
    # third cycle with nothing pending must not wipe the index
    run_once(spark, d2, idx, ledger_path=led)
    assert read_vector_index(spark, idx).count() == n2


def test_ledger_null_keys_dropped_not_reprocessed_forever(spark, tmp_path):
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.ledger import (
        append_processed,
        load_ledger,
        pending,
    )

    path = str(tmp_path / "led")
    cands = spark.createDataFrame(
        [(None, "x"), ("a", "y"), ("b", "z")], "key string, v string"
    )
    append_processed(cands, "key", path)
    led = load_ledger(spark, path)
    assert led.filter(led.key.isNull()).count() == 0  # NULL never ledgered
    out = pending(cands, led)
    assert out.count() == 0  # a,b ledgered; the NULL row dropped, not pending


def test_run_once_retry_after_partial_failure_is_idempotent(spark, tmp_path):
    """Crash window: index appended, ledger append failed. A retry must
    neither duplicate vec_ids (the doc's vectors already landed) nor
    leave the doc unledgered forever — already-indexed pending docs are
    skipped for embedding but still ledgered (round-14 ADVICE)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.ledger import load_ledger
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import (
        read_vector_index,
        write_vector_index,
    )

    idx = str(tmp_path / "idx")
    led = str(tmp_path / "led")
    words = " ".join(f"w{i}" for i in range(40))
    d1 = spark.createDataFrame([(1, words), (2, words)], "doc_id long, text string")
    run_once(spark, d1, idx, ledger_path=led)
    n1 = read_vector_index(spark, idx).count()

    # simulate the torn state: doc 3's vectors appended, ledger NOT
    d3 = spark.createDataFrame([(3, words)], "doc_id long, text string")
    write_vector_index(embed_chunks(chunk_text(d3, chunk_words=32)), idx, mode="append")
    n_torn = read_vector_index(spark, idx).count()
    assert n_torn > n1
    assert load_ledger(spark, led).filter(F.col("key") == "3").count() == 0

    # retry the batch: no duplicate vectors, doc 3 now ledgered
    all_docs = spark.createDataFrame(
        [(1, words), (2, words), (3, words)], "doc_id long, text string"
    )
    run_once(spark, all_docs, idx, ledger_path=led)
    back = read_vector_index(spark, idx)
    assert back.count() == n_torn  # nothing re-appended
    assert back.select("vec_id").distinct().count() == n_torn  # unique ids
    assert load_ledger(spark, led).filter(F.col("key") == "3").count() == 1

    # and the state is stable: one more cycle adds nothing
    run_once(spark, all_docs, idx, ledger_path=led)
    assert read_vector_index(spark, idx).count() == n_torn


def test_ledger_pending_strict_raises_on_null_key(spark):
    from pyspark.errors import PySparkException
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.ledger import pending

    cands = spark.createDataFrame(
        [(None, "x"), ("a", "y")], "key string, v string"
    )
    led = spark.createDataFrame([("z",)], "key string")
    # default: silent (documented) drop
    assert {r.v for r in pending(cands, led).collect()} == {"y"}
    # strict: the NULL key is a loud execution-time failure
    with pytest.raises(PySparkException, match="NULL candidate key"):
        pending(cands, led, strict=True).collect()
    # strict with clean keys behaves identically to default
    clean = spark.createDataFrame([("a", "y"), ("z", "w")], "key string, v string")
    assert {r.v for r in pending(clean, led, strict=True).collect()} == {"y"}


def test_run_once_retry_heal_does_not_conflate_numeric_like_ids(spark, tmp_path):
    """The heal's already-indexed check must compare doc keys as
    STRINGS: a string-vs-int join coerces both sides to double —
    conflating '01' with '1' (a never-indexed doc would be skipped for
    embedding yet still ledgered). The index's source_file column is
    STRING, so the anti-join on it keeps the two apart."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import read_vector_index

    idx = str(tmp_path / "idx")
    led = str(tmp_path / "led")
    words = " ".join(f"w{i}" for i in range(40))
    d1 = spark.createDataFrame([("1", words)], "doc_id string, text string")
    run_once(spark, d1, idx, ledger_path=led)
    n1 = read_vector_index(spark, idx).count()
    # '01' is a DIFFERENT doc; double coercion would equate it with '1'
    d2 = spark.createDataFrame(
        [("1", words), ("01", words)], "doc_id string, text string"
    )
    run_once(spark, d2, idx, ledger_path=led)
    back = read_vector_index(spark, idx)
    assert back.count() == 2 * n1  # doc '01' embedded, not skipped
    assert back.select("vec_id").distinct().count() == 2 * n1


def test_run_once_appends_stay_flat(spark, tmp_path):
    """Ledger batches append flat files: no directory per document, and
    each batch adds at most one file per write partition — the file
    count tracks batches, not documents indexed."""
    idx = tmp_path / "idx"
    led = str(tmp_path / "led")
    words = " ".join(f"w{i}" for i in range(40))
    for b in range(3):
        docs = spark.range(20 * b, 20 * (b + 1), numPartitions=2).select(
            F.col("id").alias("doc_id"), F.lit(words).alias("text")
        )
        run_once(spark, docs, str(idx), ledger_path=led)
    assert not [p for p in idx.iterdir() if p.is_dir()]
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(list(idx.glob("*.parquet"))) <= 3 * shuffle
    assert spark.read.parquet(str(idx)).select("source_file").distinct().count() == 60


def test_ingest_cycle_job_budget(spark, tmp_path):
    """The ingest cycle runs no Spark job that moves no data: a second
    ledger-mode run_once fires at most 5 jobs (ledger broadcast, pending
    checkpoint, index broadcast, index write, ledger append; no distinct
    before either anti join), building search fires none (the index is
    read with its declared schema, no footer inference), and its
    collect at most 4."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    idx = str(tmp_path / "idx")
    led = str(tmp_path / "led")
    words = " ".join(f"w{i}" for i in range(40))

    def batch(b):
        return spark.range(20 * b, 20 * (b + 1), numPartitions=2).select(
            F.col("id").alias("doc_id"), F.lit(words).alias("text")
        )

    def jobs(fn):
        first = dag.nextJobId()
        out = fn()
        return out, dag.nextJobId() - first

    run_once(spark, batch(0), idx, ledger_path=led)
    _, n_run = jobs(lambda: run_once(spark, batch(1), idx, ledger_path=led))
    first_chunk = " ".join(words.split()[:32])
    q = spark.createDataFrame([(0, first_chunk)], "query_id long, query_text string")
    found, n_build = jobs(lambda: search(spark, idx, q, k=3))
    hits, n_collect = jobs(found.collect)
    assert n_run <= 5, n_run
    assert n_build == 0, n_build
    assert n_collect <= 4, n_collect
    assert len(hits) == 3 and hits[0].sim == pytest.approx(1.0)
