"""Audio quality gates: per-frame integer counters + gate verdicts.

The kernel quantizes to micro-units so every downstream aggregate is
exact integer math (the oracle-mirroring contract); the gate operator
must flag each defect class independently and surface undecodable
clips via the metadata join instead of dropping them.
"""

import numpy as np
import pytest

from kmcp_spark.functions.audio import encode_wav
from kmcp_spark.operators.quality import (
    CLIP_PEAK_Q,
    SILENCE_RMS_Q,
    audio_quality_gates,
    clip_frame_stats,
    frame_stat_arrays,
)

SR = 16000


def _tone(dur_s: float, amp: float, hz: float = 440.0) -> np.ndarray:
    t = np.arange(int(SR * dur_s)) / SR
    return (amp * np.sin(2 * np.pi * hz * t)).astype(np.float32)


def test_frame_stat_arrays_counts_and_units():
    pcm = _tone(1.0, 0.5)
    rms_q, peak_q, zc = frame_stat_arrays(pcm, SR)
    # landmark-kernel framing: (n - frame) // hop + 1
    assert rms_q.size == (len(pcm) - 400) // 160 + 1
    # a 0.5-amplitude sine: rms = 0.5/sqrt(2) ~ 0.3536, peak ~ 0.5
    assert abs(int(np.median(rms_q)) - 353_553) < 500
    assert abs(int(np.median(peak_q)) - 500_000) < 500
    # 440 Hz over 25 ms frames: ~2 crossings per cycle * 11 cycles
    assert 18 <= int(np.median(zc)) <= 26
    # deterministic
    r2, p2, z2 = frame_stat_arrays(pcm, SR)
    assert np.array_equal(rms_q, r2) and np.array_equal(peak_q, p2)


def test_frame_stat_arrays_edge_cases():
    z = np.zeros(SR, np.float32)
    rms_q, peak_q, zc = frame_stat_arrays(z, SR)
    assert (rms_q == 0).all() and (peak_q == 0).all() and (zc == 0).all()
    assert (rms_q < SILENCE_RMS_Q).all()
    # clipped full-scale square wave hits the clip threshold every frame
    sq = np.sign(_tone(0.5, 1.0)).astype(np.float32)
    _, peak_q, _ = frame_stat_arrays(sq, SR)
    assert (peak_q >= CLIP_PEAK_Q).all()
    # shorter than one frame -> no rows
    assert frame_stat_arrays(np.zeros(100, np.float32), SR)[0].size == 0


@pytest.fixture(scope="module")
def quality_clips(spark):
    rows = [
        ("c_clean", _tone(0.8, 0.5), "a perfectly ordinary transcript of ten words right here"),
        ("c_quiet", _tone(0.8, 0.005), "a perfectly ordinary transcript of ten words right here"),
        ("c_clipped", _tone(0.8, 1.5), "a perfectly ordinary transcript of ten words right here"),
        ("c_silent", np.r_[_tone(0.2, 0.5), np.zeros(int(SR * 0.7), np.float32)], "words"),
    ]
    df = spark.createDataFrame(
        [
            (cid, encode_wav(pcm, SR), SR, int(len(pcm) / SR * 1000), "wav", txt)
            for cid, pcm, txt in rows
        ]
        + [
            ("c_lossy", b"\xff\xfb\x90\x00garbage", SR, 800, "mp3", "lossy row"),
            # a truncated upload: the wav decoder rejects it
            ("c_corrupt", encode_wav(_tone(0.8, 0.5), SR)[:-300], SR, 800, "wav", "cut off"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    return df.localCheckpoint(eager=True)


def test_spark_quality_gates_flag_each_defect(spark, quality_clips):
    from pyspark.sql import functions as F

    fs = clip_frame_stats(quality_clips)
    meta = quality_clips.select(
        "clip_id", "dur_ms", F.length("transcript").alias("n_chars")
    )
    g = {
        r.clip_id: r.asDict()
        for r in audio_quality_gates(fs, meta, max_cps_centi=100_000).collect()
    }
    assert set(g) == {"c_clean", "c_quiet", "c_clipped", "c_silent", "c_lossy", "c_corrupt"}
    assert g["c_clean"]["pass_all"] is True
    assert g["c_quiet"]["pass_loudness"] is False and g["c_quiet"]["pass_silence"] is True
    assert g["c_clipped"]["pass_clipping"] is False and g["c_clipped"]["clip_ppm"] == 1_000_000
    assert g["c_silent"]["pass_silence"] is False and g["c_silent"]["silence_ppm"] > 500_000
    # decode failure flows through the join, not an exception
    for undecodable in ("c_lossy", "c_corrupt"):
        row = g[undecodable]
        assert row["pass_decode"] is False and row["pass_all"] is False
        assert row["n_frames"] == 0 and row["mean_rms_q"] is None
    # only the defective gate fails: each defect row passes the others
    assert g["c_quiet"]["pass_clipping"] is True and g["c_quiet"]["pass_rate"] is True
    assert g["c_clipped"]["pass_loudness"] is True


def test_spark_quality_rate_band(spark, quality_clips):
    """The speaking-rate gate is two-sided and works off metadata alone
    (it must still gate undecodable rows)."""
    from pyspark.sql import functions as F

    fs = clip_frame_stats(quality_clips)
    meta = quality_clips.select(
        "clip_id", "dur_ms", F.length("transcript").alias("n_chars")
    )
    g = {
        r.clip_id: r
        for r in audio_quality_gates(
            fs, meta, min_cps_centi=1_000, max_cps_centi=5_000
        ).collect()
    }
    # c_clean: 55 chars / 0.8 s = 68.75 cps -> 6875 centi, above the band
    assert g["c_clean"].cps_centi == 6_875 and g["c_clean"].pass_rate is False
    # c_silent: 5 chars / 0.9 s ~ 5.5 cps -> 555 centi, below the band
    assert g["c_silent"].pass_rate is False
    # the lossy row still gets a rate verdict from metadata
    assert g["c_lossy"].cps_centi is not None
