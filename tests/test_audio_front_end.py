"""The audio front end shared by every audio operator: one decode
contract (``decode_work_pcm``) and one spectral tokenizer
(``spectral_tokens_batch``), plus a digest pin over the operators that
sit on them."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from kmcp_spark.config import PipelineConfig
from kmcp_spark.corpus import CLIPS_SCHEMA
from kmcp_spark.functions.audio import (
    decode_work_pcm,
    encode_wav,
    spectral_shingle_hashes,
    spectral_shingle_hashes_batch,
    spectral_tokens_batch,
)
from kmcp_spark.functions.flac import encode_flac


def _signal(rng, sr: int, dur_s: float) -> np.ndarray:
    """A few random tone bursts over low noise, in [-1, 1]."""
    n = int(sr * dur_s)
    t = np.arange(n) / sr
    x = 0.01 * rng.normal(size=n)
    step = max(n // 6, 1)
    for s0 in range(0, n, step):
        x[s0 : s0 + step] += 0.3 * np.sin(2 * np.pi * rng.uniform(100, 3500) * t[s0 : s0 + step])
    return np.clip(x, -1.0, 1.0)


# ------------------------------------------------------------ decode contract

_WAV = encode_wav(np.full(4000, 0.25, dtype=np.float32), 16000)


@pytest.mark.parametrize(
    "buf, codec, sr_hz",
    [
        (b"\xff\xfb\x90\x00 not decodable here", "mp3", 16000),
        (_WAV[: len(_WAV) - 100], "wav", 16000),
        (b"RIFF", "wav", 16000),
        (_WAV, "wav", 0),
        (_WAV, "wav", -8000),
        (encode_wav(np.empty(0, dtype=np.float32), 16000), "wav", 0),
        (encode_wav(np.empty(0, dtype=np.float32), 16000), "wav", -5),
    ],
    ids=[
        "unsupported-codec", "truncated-wav", "header-only-wav", "sr-zero", "sr-negative",
        "empty-sr-zero", "empty-sr-negative",
    ],
)
def test_decode_work_pcm_failure_is_none(buf, codec, sr_hz):
    assert decode_work_pcm(buf, codec, sr_hz, 16000) is None


def test_decode_work_pcm_resamples_to_the_working_rate():
    rng = np.random.default_rng(3)
    x = _signal(rng, 8000, 0.5)
    buf = encode_wav(x, 8000)
    work = decode_work_pcm(buf, "wav", 8000, 16000)
    assert work.dtype == np.float32 and work.shape[0] == 2 * x.shape[0]
    # sr_work = 0 keeps the native rate
    assert decode_work_pcm(buf, "wav", 8000, 0).shape[0] == x.shape[0]


# ------------------------------------------------------------ one tokenizer


def _mixed_rows():
    """Mixed rates, lengths and dtypes; at 16 and 44.1 kHz the stacked
    frames pass the tokenizer's 1M-element chunk bound, so the batch is
    split, and two rows are shorter than one frame."""
    rng = np.random.default_rng(11)
    spec = [
        (16000, 10.0), (8000, 0.01), (44100, 4.0), (16000, 12.0), (8000, 2.0),
        (44100, 3.5), (16000, 0.3), (44100, 0.005), (44100, 2.5), (16000, 9.0),
    ]
    pcms, srs = [], []
    for k, (sr, dur) in enumerate(spec):
        x = _signal(rng, sr, dur)
        pcms.append(x.astype(np.float32 if k % 2 else np.float64))
        srs.append(sr)
    return pcms, srs


def test_tokens_of_a_clip_do_not_depend_on_its_batch():
    pcms, srs = _mixed_rows()
    for sr, frame_len, hop in ((16000, 400, 160), (44100, 1102, 441)):
        elems = sum(
            max(1 + (len(p) - frame_len) // hop, 0) * frame_len
            for p, s in zip(pcms, srs)
            if s == sr
        )
        assert elems > 1_000_000  # the batch crosses the chunk bound
    batched = spectral_tokens_batch(pcms, srs)
    for p, sr, got in zip(pcms, srs, batched):
        alone = spectral_tokens_batch([p], [sr])[0]
        assert got.dtype == np.uint64 and np.array_equal(got, alone)
    assert sum(len(t) == 0 for t in batched) == 2


@pytest.mark.parametrize("select", ["full", "minimizer", "syncmer"])
def test_shingles_of_a_clip_do_not_depend_on_its_batch(select):
    pcms, srs = _mixed_rows()
    batched = spectral_shingle_hashes_batch(pcms, srs, select=select)
    for p, sr, got in zip(pcms, srs, batched):
        assert np.array_equal(got, spectral_shingle_hashes(p, sr, select=select))
    assert sum(len(h) > 0 for h in batched) == 8


# ------------------------------------------------------------ digest pin


def _corpus_rows() -> pd.DataFrame:
    """Mixed codecs and rates, one corrupt row and one lossy row."""
    rng = np.random.default_rng(2024)
    rows = []

    def add(cid, sr, dur, codec, encode):
        x = _signal(rng, sr, dur)
        rows.append((cid, encode(x, sr), sr, int(dur * 1000), codec, f"words of clip {cid}"))

    add("c_pcm16", 16000, 3.0, "pcm_s16le",
        lambda x, sr: (x * 32767).astype("<i2").tobytes())
    add("c_wav8k", 8000, 1.2, "wav", encode_wav)
    add("c_ulaw44k", 44100, 0.9, "wav", lambda x, sr: encode_wav(x, sr, "ulaw"))
    add("c_flac16k", 16000, 1.5, "flac", encode_flac)
    add("c_adpcm22k", 22050, 0.8, "wav", lambda x, sr: encode_wav(x, sr, "adpcm"))
    add("c_float48k", 48000, 0.6, "wav", lambda x, sr: encode_wav(x, sr, "float32"))
    full = encode_wav(_signal(rng, 16000, 1.0), 16000)
    rows.append(("c_corrupt", full[: len(full) - 500], 16000, 1000, "wav", "cut off upload"))
    rows.append(("c_lossy", b"\xff\xfb\x90\x00garbage", 16000, 700, "mp3", "lossy row"))
    return pd.DataFrame(
        rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    )


def _cell(v):
    if isinstance(v, (np.ndarray, list)):
        return np.asarray(v, dtype=np.int64).tobytes()
    return v.item() if isinstance(v, np.generic) else v


def _digest(pdf: pd.DataFrame) -> str:
    rows = sorted(repr(tuple(_cell(v) for v in r)) for r in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


# the operators' output as it was when each kept its own decode loop and
# the chunk path its own per-row tokenizer: the shared front end must
# reproduce it bit for bit
EXPECTED = {
    "sketch_batch": "7f073bc10eb1473e",
    "sketch_clips_chunked": "909ab517b9951ef8",
    "clip_landmarks": "f24b14fa047e0bc3",
}


def test_audio_operators_digest_pin(spark):
    from kmcp_spark.operators.chunking import sketch_clips_chunked
    from kmcp_spark.operators.landmark import clip_landmarks
    from kmcp_spark.operators.sketch import sketch_batch

    pdf = _corpus_rows()
    clips = spark.createDataFrame(pdf, schema=CLIPS_SCHEMA)
    sk = sketch_batch(pdf, PipelineConfig())
    chunks = sketch_clips_chunked(clips, PipelineConfig(), chunk_sec=0.5, overlap_sec=0.2)
    lm = clip_landmarks(clips)
    got = {
        "sketch_batch": _digest(sk),
        "sketch_clips_chunked": _digest(chunks.toPandas()),
        "clip_landmarks": _digest(lm.toPandas()),
    }
    assert sk["decode_ok"].tolist() == [True] * 6 + [False, False]
    assert got == EXPECTED
