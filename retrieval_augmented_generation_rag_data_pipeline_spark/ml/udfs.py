"""Model-inference UDFs (SURVEY.md §2.10 U1-U4) as Arrow-batched pandas
UDFs with per-executor singleton model loading.

The reference loads models once per process (Whisper at
src/transcription.py:52, pyannote at :115-118, SentenceTransformer at
src/embedding_engine.py:11); the Spark equivalent is the
iterator-of-batches pandas UDF, which initializes once per python
worker and streams Arrow batches through it.

Heavy deps are import-gated: `*_available()` probes tell callers to pick
the deterministic fakes (plans.pipeline.mock_embed_sql, fake_transcribe)
when torch/transformers are absent — which is always the case in this
container, so these UDFs are exercised via the fakes in tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHUNK_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("text", T.StringType()),
            T.StructField("t_start", T.DoubleType()),
            T.StructField("t_end", T.DoubleType()),
            T.StructField("confidence", T.DoubleType()),
        ]
    )
)

SEGMENT_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("spk_start", T.DoubleType()),
            T.StructField("spk_end", T.DoubleType()),
            T.StructField("speaker", T.StringType()),
        ]
    )
)


# Process-wide model cache: the iterator-of-batches form amortizes a
# load only WITHIN one task; without this cache a 500-partition scan
# would reload multi-GB weights 500 times per python worker. Keyed on
# the full construction signature so distinct configs coexist.
_MODEL_CACHE: dict[tuple, object] = {}


def _cached_model(key: tuple, loader):
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = loader()
    return _MODEL_CACHE[key]


def _try_import(mod: str):
    try:
        return __import__(mod)
    except ImportError:
        return None


def asr_available() -> bool:
    return _try_import("transformers") is not None and _try_import("torch") is not None


# Reference generation parameters, verbatim (src/transcription.py:158-166).
ASR_GENERATE_KWARGS = {
    "max_length": 448,
    "num_beams": 3,
    "temperature": 0.2,
    "no_repeat_ngram_size": 3,
    "length_penalty": 1.0,
}


def make_asr_udf(
    model_name: str = "openai/whisper-large-v3-turbo",
    chunk_length_s: int = 30,
    batch_size: int = 8,
    generate_kwargs: dict | None = None,
):
    """U1: binary audio -> ARRAY<STRUCT<text,t_start,t_end,confidence>>
    (reference src/transcription.py:152-168). One model per executor.

    Call parity with the reference: ``batch_size=8``, the
    ``generate_kwargs`` beam/temperature/length set (ASR_GENERATE_KWARGS,
    src/transcription.py:158-166), fp16 + TF32 on CUDA with a
    flash-attention-2 attempt and TypeError fallback
    (src/transcription.py:28-58).
    """
    gen_kwargs = dict(ASR_GENERATE_KWARGS if generate_kwargs is None else generate_kwargs)

    @F.pandas_udf(CHUNK_SCHEMA)
    def asr(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        if not asr_available():
            raise NotImplementedError(
                "transformers/torch not installed — use fake_transcribe for tests"
            )
        def _load():
            import torch
            from transformers import pipeline as hf_pipeline

            use_cuda = torch.cuda.is_available()
            if use_cuda:
                torch.backends.cuda.matmul.allow_tf32 = True
                torch.backends.cudnn.allow_tf32 = True
            pipeline_kwargs = {
                "task": "automatic-speech-recognition",
                "model": model_name,
                "torch_dtype": torch.float16 if use_cuda else torch.float32,
                "device": 0 if use_cuda else "cpu",
            }
            model_kwargs = {}
            if use_cuda:
                try:
                    from transformers.utils import is_flash_attn_2_available

                    if is_flash_attn_2_available():
                        model_kwargs["use_flash_attention_2"] = True
                except ImportError:
                    pass
            try:
                return hf_pipeline(
                    **pipeline_kwargs,
                    **({"model_kwargs": model_kwargs} if model_kwargs else {}),
                )
            except TypeError:
                if not model_kwargs:
                    raise
                return hf_pipeline(**pipeline_kwargs)

        model = _cached_model(("asr", model_name), _load)
        for series in batches:
            out = []
            for blob in series:
                # NULL blob: no audio, no chunks — bytes(None) would
                # raise TypeError and fail the task (the fakes already
                # tolerate NULLs; the real branch must match)
                if blob is None:
                    out.append([])
                    continue
                res = model(
                    bytes(blob),
                    chunk_length_s=chunk_length_s,
                    batch_size=batch_size,
                    return_timestamps=True,
                    generate_kwargs=gen_kwargs,
                )
                out.append(
                    [
                        {
                            "text": c["text"],
                            "t_start": c["timestamp"][0],
                            "t_end": c["timestamp"][1],
                            "confidence": 1.0,
                        }
                        for c in res.get("chunks", [])
                    ]
                )
            yield pd.Series(out)

    # surface the plumbed call parameters for parity inspection/tests
    asr.generate_kwargs = gen_kwargs
    asr.batch_size = batch_size
    asr.chunk_length_s = chunk_length_s
    return asr


def diarizer_available() -> bool:
    return _try_import("pyannote") is not None


def make_diarize_udf(
    model_name: str = "pyannote/speaker-diarization-3.1",
    num_speakers: int = 2,
    min_speakers: int = 1,
    max_speakers: int = 4,
    auth_token: str | None = None,
):
    """U3: waveform -> ARRAY<STRUCT<spk_start,spk_end,speaker>>
    (reference src/transcription.py:238-312). One pipeline per executor;
    per-row failures fall back to a single full-length SPEAKER_00
    segment exactly like the reference's error path (:266-275,303-312).

    Call parity: the pipeline receives ``num_speakers=2`` plus the
    min/max bounds exactly like the reference's ``_run_diarization``
    defaults (src/transcription.py:238-244), and model loading retries
    the dual token-kwarg API (use_auth_token -> token) the same way its
    3-way loader does (:106-129).
    """

    @F.pandas_udf(SEGMENT_SCHEMA)
    def diarize(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        if not diarizer_available():
            raise NotImplementedError(
                "pyannote not installed — use fake_diarize for tests"
            )
        import torch
        from pyannote.audio import Pipeline as PyannotePipeline

        def _load():
            if auth_token is not None:
                # older/newer pyannote disagree on the token kwarg name;
                # retry across the API variants like the reference loader
                for kwargs in (
                    {"use_auth_token": auth_token},
                    {"token": auth_token},
                ):
                    try:
                        return PyannotePipeline.from_pretrained(
                            model_name, **kwargs
                        )
                    except TypeError:
                        continue
            return PyannotePipeline.from_pretrained(model_name)

        # cache key carries the TOKEN VALUE (hashed), not just its
        # presence: two UDFs built with different tokens must not share
        # one cached pipeline (the second config would never construct)
        import hashlib as _hashlib

        token_key = (
            _hashlib.md5(auth_token.encode()).hexdigest()
            if auth_token
            else None
        )
        pipeline = _cached_model(
            ("diarize", model_name, token_key), _load
        )
        for series in batches:
            out = []
            for wave in series:
                # a NULL waveform must hit the documented SPEAKER_00
                # fallback, not crash it: float(len(None)) below would
                # raise OUTSIDE the try and kill the task
                if wave is None:
                    out.append(
                        [
                            {
                                "spk_start": 0.0,
                                "spk_end": 0.0,
                                "speaker": "SPEAKER_00",
                            }
                        ]
                    )
                    continue
                try:
                    w = torch.tensor([list(wave)], dtype=torch.float32)
                    dia = pipeline(
                        {"waveform": w, "sample_rate": 16000},
                        num_speakers=num_speakers,
                        min_speakers=min_speakers,
                        max_speakers=max_speakers,
                    )
                    segs = [
                        {
                            "spk_start": float(turn.start),
                            "spk_end": float(turn.end),
                            "speaker": str(speaker),
                        }
                        for turn, _track, speaker in dia.itertracks(yield_label=True)
                    ]
                except Exception:
                    segs = []
                if not segs:
                    segs = [
                        {
                            "spk_start": 0.0,
                            "spk_end": float(len(wave)) / 16000.0,
                            "speaker": "SPEAKER_00",
                        }
                    ]
                out.append(segs)
            yield pd.Series(out)

    diarize.speaker_bounds = {
        "num_speakers": num_speakers,
        "min_speakers": min_speakers,
        "max_speakers": max_speakers,
    }
    return diarize


@F.pandas_udf(T.ArrayType(T.FloatType()))
def fake_decode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Deterministic U2 stand-in: bytes -> [-1,1) floats, one sample per
    byte — keeps the binary->waveform->diarize chain executable."""
    for series in batches:
        out = []
        for blob in series:
            b = bytes(blob or b"")
            out.append([x / 128.0 - 1.0 for x in b])
        yield pd.Series(out)


@F.pandas_udf(SEGMENT_SCHEMA)
def fake_diarize(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Deterministic U3 stand-in: alternating 2-speaker segments every 16
    samples; empty waveform -> the reference's single-speaker fallback
    (src/transcription.py:266-275)."""
    for series in batches:
        out = []
        for wave in series:
            n = 0 if wave is None else len(wave)
            if n == 0:
                out.append(
                    [{"spk_start": 0.0, "spk_end": 0.0, "speaker": "SPEAKER_00"}]
                )
                continue
            segs = []
            for i in range(0, n, 16):
                segs.append(
                    {
                        "spk_start": float(i),
                        "spk_end": float(min(i + 16, n)),
                        "speaker": f"SPEAKER_0{(i // 16) % 2}",
                    }
                )
            out.append(segs)
        yield pd.Series(out)


@F.pandas_udf(CHUNK_SCHEMA)
def fake_transcribe(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Deterministic U1 stand-in: 1 chunk per 8 input bytes, word =
    hex of those bytes — exercises schema/explode/alignment plumbing."""
    for series in batches:
        out = []
        for blob in series:
            b = bytes(blob or b"")
            chunks = []
            for i in range(0, max(len(b), 1), 8):
                chunks.append(
                    {
                        "text": b[i : i + 8].hex() or "empty",
                        "t_start": float(i),
                        "t_end": float(i + 8),
                        "confidence": 0.5 + (i % 4) / 8.0,
                    }
                )
            out.append(chunks)
        yield pd.Series(out)
