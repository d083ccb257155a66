"""Spectral landmark (constellation) fingerprinting kernel.

The classic noise/codec-robust audio match path (Wang 2003, "An
Industrial-Strength Audio Search Algorithm"): pick time-frequency PEAKS
of the spectrogram (robust to gain, EQ, and additive noise because a
local maximum stays a local maximum under monotone per-clip scaling),
pair each anchor peak with a few following peaks in a bounded target
zone, and hash (f_anchor, f_target, Δt) into a 64-bit landmark code.
Two recordings of the same signal share landmark codes at a CONSISTENT
time offset — matching is a hash join plus an offset-histogram vote,
which is exactly the shape of kmcp's matched-k-mer counting per
query-target pair (`kmcp/cmd/search.go:97`; the offset vote is the
audio analog of its chained positional matches).

This kernel complements the spectral-shingle MinHash path
(functions/audio.py): shingles give SET similarity (Jaccard /
containment) with no alignment; landmarks give a match count AND the
relative time offset, so an excerpt embedded mid-stream is both
detected and located.

All math is vectorized numpy over one clip's spectrogram; the Spark
side (operators/landmark.py) batches clips through mapInPandas and does
the join/vote with built-in DataFrame ops.
"""

from __future__ import annotations

import numpy as np

from kmcp_spark.functions.hashing import splitmix64

_U64 = np.uint64
_LANDMARK_SALT = 0x1A7D  # domain separation from shingle/text hash spaces


def _log_spectrogram(
    pcm: np.ndarray, sr_hz: int, frame_ms: int, hop_ms: int
) -> np.ndarray:
    """Hann-windowed STFT log-power spectrogram, shape (n_frames, n_bins).

    Same framing geometry as functions/audio.py::spectral_tokens_batch
    so the two audio paths share one time base (t_idx = frame index = hop_ms
    milliseconds).  Log-power because the peak threshold below is
    mean-relative: a per-clip gain g shifts every cell by 2·log10(g)
    and cancels — landmark sets are gain-invariant (FIXTURES.md T2).
    """
    frame_len = max(int(sr_hz * frame_ms / 1000), 8)
    hop_len = max(int(sr_hz * hop_ms / 1000), 4)
    x = np.asarray(pcm, dtype=np.float32)
    if x.shape[0] < frame_len:
        return np.empty((0, 0), dtype=np.float32)
    frames = np.lib.stride_tricks.sliding_window_view(x, frame_len)[::hop_len]
    frames = frames * np.hanning(frame_len).astype(np.float32)[None, :]
    spec_c = np.fft.rfft(frames, axis=1)
    power = spec_c.real**2 + spec_c.imag**2
    return np.log10(power + np.float32(1e-12)).astype(np.float32)


def _local_peaks(
    s: np.ndarray,
    t_radius: int,
    f_radius: int,
    min_db_over_mean: float,
    peaks_per_frame: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(t_idx, f_idx) of constellation peaks.

    A cell is a peak when it equals the max of its
    (2·t_radius+1)×(2·f_radius+1) neighborhood (grey dilation via
    shifted np.maximum — no scipy in this environment) AND exceeds the
    rolling local mean by ``min_db_over_mean`` (log10-power units;
    1.0 = 10 dB).  Density is then capped to the strongest
    ``peaks_per_frame`` peaks PER FRAME, bounding landmarks/sec
    regardless of signal complexity (the constellation-map density
    control of Wang 2003 §B; unbounded density would make the hash
    join quadratic on busy audio).

    Every stage here is SHIFT-COVARIANT — dilation, rolling threshold,
    and the per-frame cap all commute with cutting the clip on frame
    boundaries — which is what query-by-snippet correctness rests on.
    An earlier block-anchored cap (top-3 per 10-frame block) was not:
    an excerpt's blocks sit shifted against its source's, so on
    peak-dense audio the cap kept DIFFERENT survivors and ~11% of
    fixture excerpts fragmented below match threshold (0/132 with the
    per-frame cap, measured over the clip fixture).
    """
    nt, nf = s.shape
    if nt == 0 or nf == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    dil = s
    for dt in range(1, t_radius + 1):
        dil = np.maximum(dil, np.roll(s, dt, axis=0))
        dil = np.maximum(dil, np.roll(s, -dt, axis=0))
    base_t = dil
    for df in range(1, f_radius + 1):
        dil = np.maximum(dil, np.roll(base_t, df, axis=1))
        dil = np.maximum(dil, np.roll(base_t, -df, axis=1))
    # np.roll wraps; edge cells may compare against the far side, which
    # only ever SUPPRESSES edge peaks (dilated >= true local max) —
    # acceptable: the constellation never gains spurious edge points.
    #
    # The magnitude gate is a ROLLING time-local mean (±16 frames, all
    # bins, via cumsum), not the clip-global mean: a rolling window is
    # shift-covariant, so an excerpt's interior frames see the SAME
    # threshold they saw inside the source clip and the excerpt's peak
    # set is the source's (snippet search depends on this; a global
    # mean made ~10% of fixture excerpts fragment away from their
    # source constellation).  Gain invariance is unchanged — a constant
    # log-shift moves cell and threshold together.
    w = 16
    frame_mean = s.mean(axis=1)
    c = np.r_[np.float64(0), np.cumsum(frame_mean, dtype=np.float64)]
    lo = np.maximum(np.arange(nt) - w, 0)
    hi = np.minimum(np.arange(nt) + w + 1, nt)
    local_mean = ((c[hi] - c[lo]) / (hi - lo)).astype(np.float32)
    mask = (s >= dil) & (s > local_mean[:, None] + np.float32(min_db_over_mean))
    t_idx, f_idx = np.nonzero(mask)
    if t_idx.size == 0:
        return t_idx.astype(np.int64), f_idx.astype(np.int64)
    # density cap: strongest peaks_per_frame per frame.  Sort by
    # (frame asc, magnitude desc); rank within frame via cumulative
    # count — pure numpy, no python loop
    mag = s[t_idx, f_idx]
    order = np.lexsort((-mag, t_idx))
    t_sorted = t_idx[order]
    starts = np.flatnonzero(np.r_[True, t_sorted[1:] != t_sorted[:-1]])
    rank = np.arange(t_sorted.size) - np.repeat(starts, np.diff(np.r_[starts, t_sorted.size]))
    keep = order[rank < peaks_per_frame]
    keep.sort()  # restore (t, f) scan order
    return t_idx[keep].astype(np.int64), f_idx[keep].astype(np.int64)


def landmark_hashes(
    pcm: np.ndarray,
    sr_hz: int,
    frame_ms: int = 25,
    hop_ms: int = 10,
    t_radius: int = 2,
    f_radius: int = 3,
    min_db_over_mean: float = 0.5,
    peaks_per_frame: int = 1,
    fanout: int = 5,
    dt_max: int = 40,
) -> tuple[np.ndarray, np.ndarray]:
    """PCM -> (lhash uint64[], t_idx int64[]) landmark stream.

    Peaks are time-sorted; each anchor pairs with its next ``fanout``
    peaks whose frame distance is in [1, dt_max] (the target zone).
    The code packs (f_anchor:10b, f_target:10b, Δt:12b) and mixes with
    splitmix64 for uniform bucket distribution downstream.  ``t_idx``
    is the ANCHOR frame index — the offset histogram over
    t_idx_b − t_idx_a is what aligns two matching clips.
    """
    s = _log_spectrogram(pcm, sr_hz, frame_ms, hop_ms)
    if s.size == 0:
        return np.empty(0, _U64), np.empty(0, np.int64)
    t, f = _local_peaks(s, t_radius, f_radius, min_db_over_mean, peaks_per_frame)
    n = t.size
    if n < 2:
        return np.empty(0, _U64), np.empty(0, np.int64)
    # vectorized target-zone pairing over the time-sorted peak list:
    # anchor i pairs with i+1 .. i+fanout, then the Δt window filters
    ai = np.repeat(np.arange(n), fanout)
    ti = ai + np.tile(np.arange(1, fanout + 1), n)
    ok = ti < n
    ai, ti = ai[ok], ti[ok]
    dt = t[ti] - t[ai]
    ok = (dt >= 1) & (dt <= dt_max)
    ai, ti, dt = ai[ok], ti[ok], dt[ok]
    if ai.size == 0:
        return np.empty(0, _U64), np.empty(0, np.int64)
    packed = (
        (f[ai].astype(_U64) & _U64(0x3FF)) << _U64(22)
        | (f[ti].astype(_U64) & _U64(0x3FF)) << _U64(12)
        | (dt.astype(_U64) & _U64(0xFFF))
    )
    return splitmix64(packed, seed=_LANDMARK_SALT), t[ai]
