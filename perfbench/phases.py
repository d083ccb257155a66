"""Single-threaded timings of the sketch kernel's phases.

``sketch_phase_times`` repeats the calls ``operators/sketch.py`` makes
for one Arrow batch, in its order, with a timer around each phase, and
also times the whole ``sketch_batch`` call, so the phases can be checked
to add up to it.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

PHASES = ("decode", "resample", "spectral", "text", "minhash", "simhash")


def sketch_phase_times(pdf: pd.DataFrame, cfg, reps: int = 3) -> dict[str, float]:
    """ms per clip of each phase of ``sketch_batch`` and of the whole call,
    single-threaded, on one Arrow-batch-sized sample.  The phases repeat
    the kernel's own calls in its order; the best of ``reps`` is kept."""
    from kmcp_spark.functions.audio import decode_pcm, resample_pcm, spectral_shingle_hashes_batch
    from kmcp_spark.functions.hashing import splitmix64
    from kmcp_spark.functions.minhash import minhash_signatures, scaled_sketch
    from kmcp_spark.functions.shingle import char_kgram_hashes_batch, word_ngram_hashes_batch
    from kmcp_spark.functions.simhash import simhash64
    from kmcp_spark.operators.sketch import _AUDIO_SALT, _WORD_SALT, sketch_batch

    sk = cfg.sketch
    n = len(pdf)
    best = {k: float("inf") for k in PHASES + ("batch",)}
    pc = time.perf_counter
    for _ in range(reps):
        t = dict.fromkeys(PHASES, 0.0)
        t0 = pc()
        sketch_batch(pdf, cfg)
        t["batch"] = pc() - t0
        t0 = pc()
        chars = char_kgram_hashes_batch(pdf["transcript"], sk.char_k)
        words = word_ngram_hashes_batch(pdf["transcript"], sk.word_n)
        t["text"] += pc() - t0
        pcms = []
        for b, codec, sr in zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"]):
            t0 = pc()
            try:
                pcm = decode_pcm(b, codec)
            except (NotImplementedError, ValueError):
                t["decode"] += pc() - t0
                pcms.append(np.empty(0, dtype=np.float64))
                continue
            t1 = pc()
            t["decode"] += t1 - t0
            if sk.sr_work:
                pcm = resample_pcm(pcm, int(sr), sk.sr_work)
            t["resample"] += pc() - t1
            pcms.append(pcm)
        t0 = pc()
        audio = spectral_shingle_hashes_batch(
            pcms, [sk.sr_work] * n if sk.sr_work else list(pdf["sr_hz"]),
            ngram=sk.audio_ngram, select=sk.audio_select, minimizer_w=sk.minimizer_w,
            syncmer_s=sk.syncmer_s, frame_ms=sk.frame_ms, hop_ms=sk.hop_ms,
            n_bands=sk.n_bands, quant_levels=sk.quant_levels,
        )
        audios = [scaled_sketch(splitmix64(a, seed=_AUDIO_SALT), sk.scale) for a in audio]
        t1 = pc()
        texts = [
            scaled_sketch(np.union1d(c, splitmix64(w, seed=_WORD_SALT)), sk.scale)
            for c, w in zip(chars, words)
        ]
        t2 = pc()
        t["spectral"] += t1 - t0
        t["text"] += t2 - t1
        sets = [np.concatenate([x, y]) for x, y in zip(texts, audios)]
        minhash_signatures(sets, sk.num_perm, sk.master_seed)
        t3 = pc()
        simhash64(sets)
        t4 = pc()
        t["minhash"] += t3 - t2
        t["simhash"] += t4 - t3
        for k, v in t.items():
            best[k] = min(best[k], v)
    return {k: 1e3 * v / n for k, v in best.items()}
