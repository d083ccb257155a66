"""Audio quality gates — the per-clip filters a training-data pipeline
runs before anything else touches a clip.

The reference has no audio analog (its closest shape is the
min-query-length gate, ``kmcp/cmd/search.go`` minQueryLen, and the
FracMinHash scaled filter — both "cheap per-record screens before the
expensive path"); this family is the repo-addition equivalent for the
audio+transcript corpus: loudness, clipping, silence, and
speaking-rate screens that decide which clips are worth sketching.

Two-piece design, scale-first:

* ``clip_frame_stats`` — ONE Arrow-batched decode pass emitting
  per-frame integer counters (rms/peak in micro-units, zero
  crossings).  All framing math is vectorized numpy (stride-tricks
  window view); a clip that fails to decode emits no frame rows and
  is picked up by the gate join instead of crashing (the house
  ``decode_ok=false`` flow-through contract).
* ``audio_quality_gates`` — pure JVM aggregation over the frame rows:
  a single map-side-combinable ``groupBy(clip_id).sum(...)`` shuffle,
  a broadcast-size join against clip metadata, and integer-only gate
  arithmetic.  At 10^12 clips the frame relation is ~10^14 rows, but
  partial aggregation reduces it executor-side to one row per clip
  before the shuffle, so the operator moves clip-count — not
  frame-count — bytes.

Every published metric is an exact integer (micro-units, ppm,
centi-cps): ratios like ``round(n_silent/n_frames, 6)`` can land on a
representation tie (1/128 = 0.0078125) where Spark's half-up and a SQL
engine's half-even disagree, so the oracle mirror stays bit-exact only
with integer arithmetic end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from kmcp_spark.runtime import drop_zip_finders

FRAME_STATS_SCHEMA = (
    "clip_id string, t_idx int, rms_q bigint, peak_q bigint, zc int"
)

# quality thresholds (integer domains; see module docstring)
SILENCE_RMS_Q = 3_162        # -50 dBFS: 10**(-50/20) * 1e6
CLIP_PEAK_Q = 999_000        # |sample| >= 0.999 of full scale
MIN_MEAN_RMS_Q = 10_000      # -40 dBFS mean frame RMS
MAX_CLIP_PPM = 10_000        # <= 1% clipped frames
MAX_SILENCE_PPM = 500_000    # <= 50% silent frames
MIN_CPS_CENTI = 200          # >= 2.0 transcript chars/sec
MAX_CPS_CENTI = 4_000        # <= 40.0 chars/sec


def frame_stat_arrays(
    pcm: np.ndarray, sr_hz: int, frame_ms: int = 25, hop_ms: int = 10
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(rms_q, peak_q, zc) int64 arrays, one entry per analysis frame.

    Same 25 ms / 10 ms framing as the landmark kernel so frame indices
    line up across feature tables.  rms/peak are quantized to
    micro-units of full scale (int64) — exact, engine-portable.
    """
    frame = max(int(sr_hz * frame_ms / 1000), 1)
    hop = max(int(sr_hz * hop_ms / 1000), 1)
    if pcm.size < frame:
        z = np.empty(0, np.int64)
        return z, z.copy(), z.copy()
    w = np.lib.stride_tricks.sliding_window_view(pcm, frame)[::hop]
    x = w.astype(np.float64, copy=False)
    rms_q = np.rint(np.sqrt(np.mean(x * x, axis=1)) * 1e6).astype(np.int64)
    peak_q = np.rint(np.abs(x).max(axis=1) * 1e6).astype(np.int64)
    zc = ((x[:, :-1] * x[:, 1:]) < 0).sum(axis=1).astype(np.int64)
    return rms_q, peak_q, zc


def clip_frame_stats(clips: DataFrame) -> DataFrame:
    """Per-frame integer quality counters for every decodable clip.

    Decode → canonical-rate resample (the sketch stage's working rate,
    ``SketchConfig.sr_work``, so thresholds mean the same thing for an
    8 kHz and a 44.1 kHz ingest) → vectorized framing on the sketch
    stage's ``frame_ms`` / ``hop_ms`` grid.  Undecodable
    clips (lossy codecs, corrupt payloads) emit no rows —
    ``audio_quality_gates`` surfaces them via its metadata join.
    """
    from kmcp_spark.config import SketchConfig
    from kmcp_spark.functions.audio import decode_work_pcm

    sk = SketchConfig()
    sr_work = sk.sr_work

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            out: list[pd.DataFrame] = []
            for cid, buf, sr, codec in zip(
                pdf["clip_id"].tolist(),
                pdf["bytes"].tolist(),
                pdf["sr_hz"].tolist(),
                pdf["codec"].tolist(),
            ):
                pcm = decode_work_pcm(buf, codec, sr, sr_work)
                if pcm is None:
                    continue
                rms_q, peak_q, zc = frame_stat_arrays(pcm, sr_work, sk.frame_ms, sk.hop_ms)
                if rms_q.size == 0:
                    continue
                out.append(
                    pd.DataFrame(
                        {
                            "clip_id": cid,
                            "t_idx": np.arange(rms_q.size, dtype=np.int32),
                            "rms_q": rms_q,
                            "peak_q": peak_q,
                            "zc": zc,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cols = ["clip_id", "bytes", "sr_hz", "codec"]
    return clips.select(*cols).mapInPandas(run, schema=FRAME_STATS_SCHEMA)


def audio_quality_gates(
    frame_stats: DataFrame,
    meta: DataFrame,
    *,
    silence_rms_q: int = SILENCE_RMS_Q,
    clip_peak_q: int = CLIP_PEAK_Q,
    min_mean_rms_q: int = MIN_MEAN_RMS_Q,
    max_clip_ppm: int = MAX_CLIP_PPM,
    max_silence_ppm: int = MAX_SILENCE_PPM,
    min_cps_centi: int = MIN_CPS_CENTI,
    max_cps_centi: int = MAX_CPS_CENTI,
) -> DataFrame:
    """Per-clip quality verdicts from frame counters + clip metadata.

    ``meta`` carries (clip_id, dur_ms, n_chars) for every clip —
    including ones that produced no frames (decode failures), which
    surface with ``pass_decode = false`` and null audio metrics rather
    than disappearing.  All metrics are integers: mean_rms_q
    (micro-units), silence_ppm / clip_ppm (parts per million of
    frames), cps_centi (transcript chars/sec × 100).  One partial-agg
    shuffle on clip_id; the metadata join keys on the same column so
    AQE plans it shuffle-free when meta is small.
    """
    agg = frame_stats.groupBy("clip_id").agg(
        F.count("*").alias("n_frames"),
        F.sum("rms_q").alias("_sum_rms"),
        F.sum(
            F.when(F.col("rms_q") < F.lit(silence_rms_q), 1).otherwise(0)
        ).alias("_n_silent"),
        F.sum(
            F.when(F.col("peak_q") >= F.lit(clip_peak_q), 1).otherwise(0)
        ).alias("_n_clipped"),
        F.sum("zc").alias("sum_zc"),
    )
    j = meta.join(agg, "clip_id", "left")
    nf = F.col("n_frames")
    mean_rms = F.floor(F.col("_sum_rms") / nf).cast("bigint")
    silence_ppm = F.floor(F.col("_n_silent") * F.lit(1_000_000) / nf).cast("bigint")
    clip_ppm = F.floor(F.col("_n_clipped") * F.lit(1_000_000) / nf).cast("bigint")
    cps_centi = F.floor(
        F.col("n_chars") * F.lit(100_000) / F.col("dur_ms")
    ).cast("bigint")
    decoded = nf.isNotNull()
    pass_loud = decoded & (mean_rms >= F.lit(min_mean_rms_q))
    pass_clip = decoded & (clip_ppm <= F.lit(max_clip_ppm))
    pass_sil = decoded & (silence_ppm <= F.lit(max_silence_ppm))
    pass_rate = (cps_centi >= F.lit(min_cps_centi)) & (
        cps_centi <= F.lit(max_cps_centi)
    )
    return j.select(
        "clip_id",
        F.coalesce(nf, F.lit(0)).alias("n_frames"),
        mean_rms.alias("mean_rms_q"),
        silence_ppm.alias("silence_ppm"),
        clip_ppm.alias("clip_ppm"),
        F.col("sum_zc").alias("sum_zc"),
        cps_centi.alias("cps_centi"),
        decoded.alias("pass_decode"),
        pass_loud.alias("pass_loudness"),
        pass_clip.alias("pass_clipping"),
        pass_sil.alias("pass_silence"),
        pass_rate.alias("pass_rate"),
        (decoded & pass_loud & pass_clip & pass_sil & pass_rate).alias("pass_all"),
    )
