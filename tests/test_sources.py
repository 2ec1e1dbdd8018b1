"""Source/sink coverage (SURVEY.md §2.1 S1-S6, S9-S10).

Exercises the binaryFile catalog scan (the reference's S3
list+filter+download collapsed into one source, multi-extension
listings included), the wholetext document scan, and the JSON /
formatted-dialogue sinks — all against tmp files, no cloud dependency.
"""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import format_dialogue
from retrieval_augmented_generation_rag_data_pipeline_spark.sources import sinks
from retrieval_augmented_generation_rag_data_pipeline_spark.sources.readers import (
    scan_catalog,
    scan_text_documents,
)


def _mkfiles(tmp_path: pathlib.Path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.webm").write_bytes(b"\x00\x01\x02")
    (tmp_path / "a" / "y.mp3").write_bytes(b"\x03\x04")
    (tmp_path / "z.webm").write_bytes(b"\x05")
    (tmp_path / "note.txt").write_text("hello spark world")


def test_scan_catalog_glob_and_schema(spark, tmp_path):
    _mkfiles(tmp_path)
    df = scan_catalog(spark, str(tmp_path), glob="*.webm")
    rows = df.collect()
    assert {r.path.rsplit("/", 1)[-1] for r in rows} == {"x.webm", "z.webm"}
    assert set(df.columns) == {"path", "modificationTime", "length"}
    assert {r.length for r in rows} == {3, 1}


def test_scan_catalog_with_content(spark, tmp_path):
    _mkfiles(tmp_path)
    df = scan_catalog(spark, str(tmp_path), glob="z.webm", with_content=True)
    assert bytes(df.first().content) == b"\x05"


def test_scan_globs_union(spark, tmp_path):
    """The reference's multi-extension listing (src/transcription.py:
    431-432) is one brace glob: the prefix is listed once."""
    _mkfiles(tmp_path)
    df = scan_catalog(spark, str(tmp_path), glob="{*.webm,*.mp3}")
    names = sorted(r.path.rsplit("/", 1)[-1] for r in df.collect())
    assert names == ["x.webm", "y.mp3", "z.webm"]


def test_scan_text_documents_wholetext(spark, tmp_path):
    _mkfiles(tmp_path)
    rows = scan_text_documents(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].text == "hello spark world"
    assert rows[0].source_file.endswith("note.txt")


def test_json_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("SPEAKER_00", "hi", 0.0, 1.5, 0.9)],
        "speaker string, text string, t_start double, t_end double, confidence double",
    )
    out = str(tmp_path / "json_out")
    sinks.write_json(df, out)
    lines = [
        ln
        for f in pathlib.Path(out).glob("*.json")
        for ln in f.read_text().splitlines()
        if ln.strip()
    ]
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert rec == {
        "speaker": "SPEAKER_00",
        "text": "hi",
        "t_start": 0.0,
        "t_end": 1.5,
        "confidence": 0.9,
    }


def test_dialogue_text_sink_format(spark, tmp_path):
    # the reference's "[%.2f-%.2f] %s: %s" line format
    # (src/transcription.py:353-359)
    df = spark.createDataFrame(
        [("SPEAKER_00", "hello there", 0.0, 1.5, 1.0)],
        "speaker string, text string, t_start double, t_end double, confidence double",
    )
    out = str(tmp_path / "txt_out")
    sinks.write_dialogue_text(format_dialogue(df), out)
    lines = []
    for f in pathlib.Path(out).glob("*.txt"):
        lines += f.read_text().splitlines()
    assert lines == ["[0.00-1.50] SPEAKER_00: hello there"]


def test_vector_index_flat_with_string_source_file(spark, tmp_path):
    """The index is flat Parquet: per-file identity is the source_file
    STRING column, not a directory level (partition inference read
    'source_file=01' and 'source_file=1' back as the same int 1)."""
    df = spark.createDataFrame(
        [
            ("0", [1.0, 0.0], "a", "f1"),
            ("1", [0.0, 1.0], "b", "f2"),
            ("2", [0.5, 0.5], "c", "f1"),
            ("3", [1.0, 1.0], "d", "01"),
            ("4", [0.0, 0.0], "e", "1"),
        ],
        sinks.VECTOR_INDEX_DDL,
    )
    out = str(tmp_path / "idx")
    sinks.write_vector_index(df, out)
    assert not [p for p in pathlib.Path(out).iterdir() if p.is_dir()]
    back = sinks.read_vector_index(spark, out)
    assert dict(back.dtypes)["source_file"] == "string"
    counts = back.groupBy("source_file").count().collect()
    assert {r.source_file: r["count"] for r in counts} == {
        "f1": 2, "f2": 1, "01": 1, "1": 1
    }
    one = back.filter(F.col("source_file") == "f1")
    assert sorted(r.vec_id for r in one.collect()) == ["0", "2"]


def test_vector_index_append_refuses_partitioned_root(spark, tmp_path):
    """Spark reads a root holding both source_file=*/ directories and
    flat files as one layout and silently drops the other's rows, so
    appending onto the old per-document layout must raise before any
    file is written."""
    df = spark.createDataFrame(
        [("0", [1.0, 0.0], "a", "f1"), ("1", [0.0, 1.0], "b", "f2")],
        sinks.VECTOR_INDEX_DDL,
    )
    out = tmp_path / "idx"
    df.write.partitionBy("source_file").parquet(str(out))
    files_before = sorted(p for p in out.rglob("*") if p.is_file())
    with pytest.raises(ValueError, match="per-source_file"):
        sinks.write_vector_index(df, str(out), mode="append")
    assert sorted(p for p in out.rglob("*") if p.is_file()) == files_before


def test_read_vector_index_runs_no_job(spark, tmp_path):
    """The index is read with its declared schema: no footer-inference
    job at read time, and a missing index still fails with the
    PATH_NOT_FOUND analysis error run_once takes as its first run."""
    from pyspark.errors import AnalysisException

    df = spark.createDataFrame(
        [("0", [1.0, 0.0], "a", "f1")], sinks.VECTOR_INDEX_DDL
    )
    out = str(tmp_path / "idx")
    sinks.write_vector_index(df, out)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    back = sinks.read_vector_index(spark, out)
    assert dag.nextJobId() == first
    assert back.schema.simpleString() == df.schema.simpleString()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        sinks.read_vector_index(spark, str(tmp_path / "missing"))


def test_embed_chunks_writes_the_index_schema(spark):
    """What the pipeline writes is exactly the schema the reader
    declares."""
    from pyspark.sql.types import DataType

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.text import chunk_text
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.pipeline import embed_chunks

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    got = embed_chunks(chunk_text(docs, chunk_words=2)).schema
    assert got.simpleString() == DataType.fromDDL(sinks.VECTOR_INDEX_DDL).simpleString()


@pytest.mark.parametrize(
    "ddl",
    [
        "vec_id long, embedding array<double>, text string, source_file string",
        "vec_id string, embedding array<float>, text string, source_file string",
        "vec_id string, embedding array<double>, text string",
        "vec_id string, embedding array<double>, body string, source_file string",
    ],
    ids=["long_id", "float_vec", "missing_col", "renamed_col"],
)
def test_write_vector_index_refuses_other_schema(spark, tmp_path, ddl):
    """A frame whose names or types differ from VECTOR_INDEX_DDL would
    read back wrong under the declared schema, so the writer raises
    before any file is written, appending or not."""
    good = spark.createDataFrame(
        [("0", [1.0, 0.0], "a", "f1")], sinks.VECTOR_INDEX_DDL
    )
    out = tmp_path / "idx"
    sinks.write_vector_index(good, str(out))
    files_before = sorted(p for p in out.rglob("*") if p.is_file())
    bad = spark.createDataFrame([], ddl)
    for mode in ("append", "overwrite"):
        with pytest.raises(ValueError, match="vector index"):
            sinks.write_vector_index(bad, str(out), mode=mode)
        assert sorted(p for p in out.rglob("*") if p.is_file()) == files_before
    with pytest.raises(ValueError, match="vector index"):
        sinks.write_vector_index(bad, str(tmp_path / "fresh"))
    assert not (tmp_path / "fresh").exists()


def test_artifact_probe_against_catalog_scan(spark, tmp_path):
    """S10 end-to-end: derive sibling artifacts for scanned inputs and
    split by existence against the store's own listing (reference
    src/main.py:81-83 with_suffix + exists, as one semi/anti join)."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.probe import (
        derive_artifact,
        probe_artifacts,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.readers import (
        scan_catalog,
    )

    for name in ("a.webm", "b.webm", "c.webm"):
        (tmp_path / name).write_bytes(b"x")
    (tmp_path / "a.wav").write_bytes(b"y")  # only a's artifact exists

    inputs = scan_catalog(spark, str(tmp_path), glob="*.webm")
    expected = derive_artifact(inputs, "path", ".wav")
    inventory = scan_catalog(spark, str(tmp_path), glob="*.wav")
    present, missing = probe_artifacts(expected, inventory)
    assert [p.rsplit("/", 1)[-1] for p in sorted(r.artifact_path for r in present.collect())] == ["a.wav"]
    assert [p.rsplit("/", 1)[-1] for p in sorted(r.artifact_path for r in missing.collect())] == ["b.wav", "c.wav"]


def test_derive_artifact_no_extension(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.probe import (
        derive_artifact,
    )

    df = spark.createDataFrame([("dir/noext",), ("dir/x.tar.gz",)], ["path"])
    out = {r.path: r.artifact_path for r in derive_artifact(df, "path", ".json").collect()}
    assert out["dir/noext"] == "dir/noext.json"
    assert out["dir/x.tar.gz"] == "dir/x.tar.json"


def test_jsonl_roundtrip_with_schema_and_corrupt_line(spark, tmp_path):
    """write_json emits one JSON object per line (jsonl); a JSON read
    with an explicit schema gets it back identically in ONE pass, and a
    malformed line surfaces in _corrupt_record instead of failing."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    path = str(tmp_path / "docs_jsonl")
    sinks.write_json(docs.coalesce(1), path)

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    back = spark.read.schema(schema).json(path)
    a = {tuple(r) for r in docs.select("doc_id", "text", "lang", "source", "n_chars").collect()}
    b = {tuple(r) for r in back.select("doc_id", "text", "lang", "source", "n_chars").collect()}
    assert a == b

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.json").write_text('{"doc_id": 1, "text": "ok"}\n{not json\n')
    got = (
        spark.read.schema("doc_id long, text string, _corrupt_record string")
        .json(str(bad))
        .collect()
    )
    assert len(got) == 2
    assert {r.doc_id for r in got} == {1, None}
    assert any(r._corrupt_record is not None for r in got)


def test_derive_artifact_keeps_dotfile_names(spark):
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.probe import derive_artifact

    df = spark.createDataFrame(
        [("/d/a.webm",), ("/d/.config",), ("/d/noext",), ("/d/x.tar.gz",)],
        ["path"],
    )
    got = {r.path: r.artifact_path for r in derive_artifact(df, suffix=".wav").collect()}
    # matches pathlib.Path.with_suffix: a leading dot is a name, not a suffix
    assert got == {
        "/d/a.webm": "/d/a.wav",
        "/d/.config": "/d/.config.wav",
        "/d/noext": "/d/noext.wav",
        "/d/x.tar.gz": "/d/x.tar.wav",
    }


def test_morton_key_rejects_sign_bit_bits():
    import pytest

    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.sinks import morton_key_sql

    with pytest.raises(ValueError, match="sign bit"):
        morton_key_sql("a", "b", bits=32)
    assert "<< 61" in morton_key_sql("a", "b", bits=31)


def test_pinned_table_schemas_match_files(spark):
    """The explicit SCHEMAS registry (round 16 — skips per-construction
    parquet schema inference) must stay byte-identical to what
    inference reads from the driver's files; drift here would silently
    drop or re-type columns for every query."""
    from retrieval_augmented_generation_rag_data_pipeline_spark.sources.readers import (
        SCHEMAS,
        TABLES,
    )

    sf_dir = "/root/testdata/sf0.001"
    for t in TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{t}.parquet")._jdf.schema()
        pinned = spark.read.schema(SCHEMAS[t]).parquet(
            f"{sf_dir}/{t}.parquet"
        )._jdf.schema()
        assert pinned.toDDL() == inferred.toDDL(), (
            f"{t}: pinned schema {pinned.toDDL()!r} != file schema "
            f"{inferred.toDDL()!r} — regenerate readers.SCHEMAS"
        )
