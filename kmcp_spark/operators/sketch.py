"""Sketch stage: clips -> sketches (the `kmcp compute` analog).

One ``mapInPandas`` pass (`kmcp compute`'s whole per-file pipeline,
`kmcp/cmd/compute.go:500-883`, collapses to a single narrow Spark stage:
decode → shingle → sketch → emit).  Per Arrow batch, all heavy work is
numpy-vectorized; per-row Python touches only O(1) bookkeeping and the
audio decode of that row's buffer (a zero-copy ``np.frombuffer``).

Output schema (the `.unik` + Meta analog, SURVEY.md §1.4):

    sketches(clip_id string,
             size bigint,            -- |combined shingle set| after scaling
             n_text bigint, n_audio bigint,
             codes_text array<bigint>,   -- sorted distinct scaled text hashes
             codes_audio array<bigint>,  -- sorted distinct scaled audio hashes
                                         -- (FracMinHash; exact-verify input;
                                         -- domains are hash-disjoint, so the
                                         -- combined set is their concatenation)
             minhash array<bigint>,  -- num_perm MinHash signature (LSH input)
             simhash bigint,         -- 64-bit SimHash fingerprint
             decode_ok boolean)      -- codec supported & decoded

uint64 hashes are reinterpreted as int64 (two's complement) for Spark's
LongType; comparisons downstream are equality-only, so sign is irrelevant.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from kmcp_spark.config import PipelineConfig, SketchConfig
from kmcp_spark.functions.audio import decode_work_pcm, spectral_shingle_hashes_batch
from kmcp_spark.functions.hashing import splitmix64
from kmcp_spark.functions.minhash import minhash_signatures, scaled_sketch
from kmcp_spark.functions.shingle import char_kgram_hashes_batch, word_ngram_hashes_batch
from kmcp_spark.functions.simhash import simhash64
from kmcp_spark.runtime import drop_zip_finders

_U64 = np.uint64
_AUDIO_SALT = 0xA5D10  # domain separation between text and audio hash spaces
_WORD_SALT = 0x39D0

SKETCH_SCHEMA = (
    "clip_id string, size bigint, n_text bigint, n_audio bigint, "
    "codes_text array<bigint>, codes_audio array<bigint>, "
    "minhash array<bigint>, simhash bigint, decode_ok boolean"
)


def decode_batch(
    pdf: pd.DataFrame, sk: SketchConfig
) -> tuple[list[np.ndarray], list[int], list[bool]]:
    """One Arrow batch's audio through the decode contract: per row the
    PCM at the working rate (empty where decode failed), the rate its
    frames are cut at, and decode_ok."""
    pcms = [
        decode_work_pcm(buf, codec, sr, sk.sr_work)
        for buf, codec, sr in zip(
            pdf["bytes"].tolist(), pdf["codec"].tolist(), pdf["sr_hz"].tolist()
        )
    ]
    oks = [p is not None for p in pcms]
    pcms = [np.empty(0, dtype=np.float32) if p is None else p for p in pcms]
    rates = [sk.sr_work] * len(pcms) if sk.sr_work else pdf["sr_hz"].tolist()
    return pcms, rates, oks


def _domain_shingles(
    pdf: pd.DataFrame, cfg: PipelineConfig
) -> tuple[list[np.ndarray], list[np.ndarray], list[bool]]:
    """Per row: (text hash set, audio hash set, decode_ok).  The two
    domains live in salted (disjoint) hash spaces so the combined set is
    a plain concatenation."""
    sk = cfg.sketch
    char_sets = char_kgram_hashes_batch(pdf["transcript"], sk.char_k)
    word_sets = word_ngram_hashes_batch(pdf["transcript"], sk.word_n)
    pcms, rates, oks = decode_batch(pdf, sk)
    audio_sets = spectral_shingle_hashes_batch(
        pcms,
        rates,
        ngram=sk.audio_ngram,
        select=sk.audio_select,
        minimizer_w=sk.minimizer_w,
        syncmer_s=sk.syncmer_s,
        frame_ms=sk.frame_ms,
        hop_ms=sk.hop_ms,
        n_bands=sk.n_bands,
        quant_levels=sk.quant_levels,
    )
    texts: list[np.ndarray] = []
    audios: list[np.ndarray] = []
    for i in range(len(pdf)):
        text = np.union1d(char_sets[i], splitmix64(word_sets[i], seed=_WORD_SALT))
        texts.append(scaled_sketch(text, sk.scale))
        audios.append(scaled_sketch(splitmix64(audio_sets[i], seed=_AUDIO_SALT), sk.scale))
    return texts, audios, oks


_DOMAIN_SCHEMA = ", minhash_text array<bigint>, minhash_audio array<bigint>"


def _domain_sig(sets: list[np.ndarray], num_perm: int, seed: int) -> list:
    """Per-domain MinHash column: NULL for empty sets (an all-max
    sentinel signature would band-collide every empty-domain row —
    e.g. all decode-failed clips — into one giant audio bucket)."""
    sig = minhash_signatures(sets, num_perm, seed)
    return [
        sig[i].view(np.int64) if len(sets[i]) else None for i in range(len(sets))
    ]


def sketch_batch(pdf: pd.DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    """One Arrow batch of clips -> one batch of sketches (pure pandas)."""
    texts, audios, oks = _domain_shingles(pdf, cfg)
    sets = [np.concatenate([t, a]) for t, a in zip(texts, audios)]
    sig = minhash_signatures(sets, cfg.sketch.num_perm, cfg.sketch.master_seed)
    sh = simhash64(sets)
    out = pd.DataFrame(
        {
            "clip_id": pdf["clip_id"].to_numpy(),
            "size": np.fromiter((len(s) for s in sets), dtype=np.int64, count=len(sets)),
            "n_text": np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts)),
            "n_audio": np.fromiter((len(a) for a in audios), dtype=np.int64, count=len(audios)),
            "codes_text": [t.view(np.int64) for t in texts],
            "codes_audio": [a.view(np.int64) for a in audios],
            "minhash": list(sig.view(np.int64)),
            "simhash": sh.view(np.int64),
            "decode_ok": np.array(oks, dtype=bool),
        }
    )
    dp = cfg.sketch.domain_perm
    if dp > 0:
        seed = cfg.sketch.master_seed
        out["minhash_text"] = _domain_sig(texts, dp, seed + 101)
        out["minhash_audio"] = _domain_sig(audios, dp, seed + 202)
    return out


def min_dur_gate(clips: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """F4 minimum-query-length gate (kmcp drops queries shorter than the
    k-mer size, `kmcp/cmd/util-db-search.go:778-786`): clips too short to
    form a single audio shingle are neither sketched nor searched.  A
    SQL string, so the predicate costs one py4j call and pushes down
    into the parquet scan."""
    if cfg.sketch.min_dur_ms > 0:
        return clips.where(f"dur_ms >= {cfg.sketch.min_dur_ms}")
    return clips


def sketch_clips(clips: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """clips DataFrame -> sketches DataFrame (single narrow stage)."""
    need = cfg.lsh.domain_bands * cfg.lsh.rows_per_band
    if cfg.lsh.domain_bands > 0 and need > cfg.sketch.domain_perm:
        # driver-side, before any task launches: a short signature would
        # make the trailing domain bands slice short arrays — silently
        # weaker bands, not an LSH
        raise ValueError(
            f"domain_perm={cfg.sketch.domain_perm} < "
            f"domain_bands*rows_per_band={need}"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            if len(pdf):
                yield sketch_batch(pdf, cfg)

    schema = SKETCH_SCHEMA + (_DOMAIN_SCHEMA if cfg.sketch.domain_perm > 0 else "")
    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    return clips.select(*cols).mapInPandas(run, schema=schema)
