from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation_rag_data_pipeline_spark.ml.multimodal import (
    extract_features,
)
from retrieval_augmented_generation_rag_data_pipeline_spark.ml.udfs import fake_transcribe


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", b"\x89PNG fake image bytes", "image/png", 64, 64, None),
        (2, "audio", b"RIFF fake wav bytes xxxxx", "audio/wav", None, None, 4.0),
        (3, "video", b"\x00\x00ftyp fake mp4", "video/mp4", 320, 240, 3.5),
    ]
    return spark.createDataFrame(
        rows,
        "media_id long, kind string, content binary, mime string, "
        "width int, height int, duration_s double",
    )


def test_extract_features_deterministic(spark, media):
    out = {r.media_id: r for r in extract_features(media).collect()}
    assert set(out) == {1, 2, 3}
    for r in out.values():
        assert r.n_bytes > 0
        assert len(r.feature) == 8
        assert sum(r.feature) == pytest.approx(1.0)
    again = {r.media_id: r.digest for r in extract_features(media).collect()}
    assert {k: v.digest for k, v in out.items()} == again


def test_fake_transcribe_plumbing(spark, media):
    out = (
        media.select("media_id", fake_transcribe(F.col("content")).alias("chunks"))
        .select("media_id", F.explode("chunks").alias("c"))
        .select("media_id", "c.text", "c.t_start", "c.t_end", "c.confidence")
        .collect()
    )
    assert len(out) >= 3
    for r in out:
        assert r.t_end == r.t_start + 8.0
        assert isinstance(r.text, str) and len(r.text) > 0


def test_audio_pipeline_end_to_end_with_fakes(spark):
    """EP1 step 4 shape (reference src/main.py:55-95): binary audio ->
    decode (U2) -> transcribe (U1) -> diarize (U3) -> islands (W1) ->
    as-of align (J2), all over deterministic fakes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from retrieval_augmented_generation_rag_data_pipeline_spark.ml.udfs import (
        fake_decode,
        fake_diarize,
        fake_transcribe,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.joins import (
        asof_align,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.windows import (
        merge_islands,
    )

    media = spark.createDataFrame(
        [("f1", bytes(range(64))), ("f2", bytes(range(32)))],
        "file string, content binary",
    )
    decoded = media.select("file", "content", fake_decode("content").alias("wave"))

    chunks = (
        media.select("file", F.explode(fake_transcribe("content")).alias("c"))
        .select("file", "c.text", "c.t_start", "c.t_end", "c.confidence")
        .withColumn(
            "chunk_id",
            F.row_number().over(Window.partitionBy("file").orderBy("t_start")),
        )
    )
    segs = decoded.select("file", F.explode(fake_diarize("wave")).alias("s")).select(
        "file", "s.spk_start", "s.spk_end", "s.speaker"
    )
    islands = merge_islands(segs, ["file"], "spk_start", "speaker", "spk_start", "spk_end")
    segments = islands.select(
        "file",
        F.col("island_id").alias("seg_id"),
        F.col("label").alias("speaker"),
        F.col("island_end").alias("spk_end"),
    )
    aligned = asof_align(chunks, segments)
    rows = aligned.collect()
    # f1: 64 bytes -> 8 transcript chunks, 4 alternating-speaker islands
    # merge to 4 segments; every chunk must be consumed exactly once
    total_words = sum(len(r.text.split()) for r in rows)
    assert total_words == 8 + 4  # f1 chunks + f2 chunks
    assert {r.file for r in rows} == {"f1", "f2"}
    assert all(r.confidence > 0 for r in rows)


def test_phash_banding_equals_all_pairs(spark):
    """The pigeonhole exactness contract: banded blocking + exact
    rerank returns EXACTLY the all-pairs Hamming filter, on adversarial
    hashes mixing near and far pairs."""
    import itertools

    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.dedup import phash_near_dup_pairs

    hashes = [
        0, 1, 3, 7, 0b1111111, 0b11111111,        # a chain of close hashes
        -(2**63), -(2**63) + 1,                   # sign-bit territory
        2**62 + 5, 0x5555555555555555 - 2**63,    # far away
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hashes)], "media_id long, phash long"
    )
    got = {
        (r.media_a, r.media_b): r.distance
        for r in phash_near_dup_pairs(df, max_distance=7).collect()
    }
    want = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(hashes), 2):
        d = bin((a ^ b) & (2**64 - 1)).count("1")
        if d <= 7:
            want[(i, j)] = d
    assert got == want and len(want) > 0

    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        phash_near_dup_pairs(df, max_distance=8, n_bands=8)
