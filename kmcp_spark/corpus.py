"""Deterministic synthetic corpus of audio clip + transcript pairs.

Schema is exactly the input_hint:
    clips(clip_id string, bytes binary, sr_hz int, dur_ms int,
          codec string, transcript string)
plus a ground-truth table
    truth(clip_id string, cluster_id string, transform string)

Planted duplicate clusters follow FIXTURES.md §2 (the analog of the
reference's 15-genome mock community with golden truth,
`/root/reference/demo-profiling/mock.gs.profile`): ~10% of rows belong
to clusters of size 2–8 whose members derive from a base clip by one
labeled transform:

    T0 exact      — byte-identical
    T1 re-encode  — container rotation over ``t1_codecs`` (default
                    wav <-> raw pcm_s16le; fixtures opt into "flac" —
                    REAL subset codec, functions/flac.py).  Lossless:
                    PCM identical, so SNR = inf >= 30 dB.
    T2 gain       — ×0.8 amplitude (spectral tokens are amplitude-
                    normalized, so the audio shingles survive)
    T3 truncate   — drop last 10% samples, dur_ms updated (containment)
    T4 edit       — identical audio, 1–2 transcript word substitutions
    T5 near-miss  — negative control: unrelated clip sharing one word
                    (cluster_id = its own clip_id; must NOT pair)
    T6 resample   — same recording re-ingested at a different sample
                    rate (opt-in ``t6_resample``)
    T7 re-record  — same transcript, independently synthesized audio
                    (opt-in ``t7_rerecord``; the cross-modal discordance
                    class — text Jaccard 1.0, audio ~0)
    T8 mislabel   — identical audio, completely rewritten transcript
                    (opt-in ``t8_mislabel``; the label-noise discordance
                    class — audio Jaccard 1.0, text ~0; contrast with
                    T4, whose 1-2 word edit stays concordant)

Generation is fully deterministic per clip_id (Philox counter RNG keyed
by (master_seed, index)) and **distributed**: ``generate_clips`` builds
the table with ``spark.range(n).mapInPandas`` so corpus creation itself
scales with the cluster; a local pandas variant backs unit tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from kmcp_spark.functions.audio import encode_wav
from kmcp_spark.runtime import drop_zip_finders

CLIPS_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
)
TRUTH_SCHEMA = "clip_id string, cluster_id string, transform string"

_SRS = np.array([8000, 16000, 44100])
_BLOCK = 20  # ids are organized in blocks; first ids of a block may form a cluster

_CONSONANTS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")


def _vocab(size: int = 512) -> list[str]:
    """Deterministic pronounceable vocabulary (no RNG needed)."""
    words = []
    i = 0
    while len(words) < size:
        c1 = _CONSONANTS[i % len(_CONSONANTS)]
        v1 = _VOWELS[(i // len(_CONSONANTS)) % len(_VOWELS)]
        c2 = _CONSONANTS[(i // 90) % len(_CONSONANTS)]
        v2 = _VOWELS[(i // 1620) % len(_VOWELS)]
        words.append(f"{c1}{v1}{c2}{v2}{'x' if i >= 1620 else ''}")
        i += 1
    return words


VOCAB = _vocab()


def _rng(master_seed: int, idx: int) -> np.random.Generator:
    # SeedSequence([master_seed, idx]) gives independent streams per id;
    # (keying the Philox *counter* instead would alias streams — the
    # counter advances during sampling, so nearby ids would overlap)
    return np.random.default_rng([master_seed, idx])


def _base_clip(master_seed: int, idx: int, min_dur_s: float, max_dur_s: float,
               codecs: tuple = ("wav", "pcm_s16le")):
    """Deterministic base audio + transcript for id ``idx``.

    ``codecs`` is the container draw for base clips; the default keeps
    the bench corpus byte-identical to prior rounds, while fixtures add
    "flac" so ~1/len(codecs) of clips exercise real entropy decode."""
    rng = _rng(master_seed, idx)
    sr = int(_SRS[rng.integers(0, len(_SRS))])
    dur_s = float(rng.uniform(min_dur_s, max_dur_s))
    n = int(sr * dur_s)
    t = np.arange(n) / sr
    pcm = np.zeros(n)
    # non-stationary content: the tone set changes every ~200 ms so the
    # spectral-token sequence is rich enough to discriminate clips
    seg_len = max(int(sr * 0.2), 1)
    for s0 in range(0, n, seg_len):
        s1 = min(s0 + seg_len, n)
        seg_t = t[s0:s1]
        for _ in range(int(rng.integers(1, 4))):
            f = float(rng.uniform(80.0, min(4000.0, sr / 2.5)))
            a = float(rng.uniform(0.1, 0.3))
            ph = float(rng.uniform(0, 2 * np.pi))
            # gentle chirp (±5% drift across the segment) so successive
            # frames differ — richer, more realistic spectral tokens
            drift = float(rng.uniform(-0.05, 0.05))
            rel = (seg_t - seg_t[0]) / max(seg_t[-1] - seg_t[0], 1e-9)
            inst_f = f * (1.0 + drift * rel)
            pcm[s0:s1] += a * np.sin(2 * np.pi * inst_f * seg_t + ph)
    pcm += rng.normal(0.0, 0.01, n)  # fixed noise floor (clip SNR ~20-30 dB)
    pcm = np.clip(pcm, -0.99, 0.99)
    n_words = int(rng.integers(5, 41))
    words = [VOCAB[int(w)] for w in rng.integers(0, len(VOCAB), n_words)]
    codec = codecs[int(rng.integers(0, len(codecs)))]
    return pcm, sr, codec, words, rng


def _encode(pcm: np.ndarray, sr: int, codec: str, stereo: bool = False,
            wav_encoding: str = "pcm16") -> bytes:
    if codec == "wav":
        return encode_wav(pcm, sr, encoding=wav_encoding)
    if codec == "flac":
        from kmcp_spark.functions.flac import encode_flac

        if stereo:
            # dual-mono mid-side stereo: decode downmixes to EXACTLY the
            # mono master (functions/audio.py), so a stereo-flac
            # re-encode is still a lossless T1 transform — this plants
            # rows that exercise the mid-side reconstruction end-to-end
            return encode_flac(
                np.stack([pcm, pcm], axis=1), sr, stereo_mode="mid-side"
            )
        return encode_flac(pcm, sr)
    x = np.clip(pcm, -1.0, 1.0)
    return (x * 32767.0).astype("<i2").tobytes()


def _cluster_size(block: int) -> int:
    return 2 + (block % 7)  # 2..8


def _plan(idx: int):
    """(is_member, base_idx, member_j) for id ``idx`` under the block layout.

    In every block of _BLOCK ids, ids [block*_BLOCK, block*_BLOCK+size)
    form a planted cluster (base = first id).  That yields ~ (mean
    size)/_BLOCK ≈ 25% candidate rows; we only activate every other
    block to land near the 10–15%% target with a T5 control per block.
    """
    block, off = divmod(idx, _BLOCK)
    if block % 2 == 1:
        return None  # inactive block: all independent clips
    size = _cluster_size(block)
    if off < size:
        return (block * _BLOCK, off)  # (base_idx, member_j); j=0 is the base
    if off == size:
        return (block * _BLOCK, -1)  # T5 near-miss control
    return None


_TRANSFORMS = ["T0", "T1", "T2", "T3", "T4"]


def _lossy_payload(codec: str, rng) -> bytes:
    """Deterministic fake lossy-audio payload: a real container magic
    (mp3 MPEG-1 Layer III sync / Ogg page capture) over pseudorandom
    body bytes.  These rows exist to prove the decode_ok=false
    flow-through END-TO-END (kmcp reads every FASTA/Q variant it meets,
    `kmcp/cmd/compute.go:564`; lossy codecs have no decoder in this
    environment, so the pipeline must carry them, not crash on them)."""
    body = rng.integers(0, 256, 2048, dtype=np.uint8).tobytes()
    if codec == "mp3":
        return b"\xff\xfb\x90\x64" + body
    if codec == "ogg":
        return b"OggS\x00\x02" + body
    raise ValueError(f"unknown lossy codec {codec!r}")


def make_rows(
    ids: np.ndarray,
    master_seed: int = 42,
    min_dur_s: float = 1.0,
    max_dur_s: float = 5.0,
    t1_codecs: tuple = ("wav", "pcm_s16le"),
    base_codecs: tuple = ("wav", "pcm_s16le"),
    lossy_codecs: tuple = (),
    wav_encodings: tuple = ("pcm16",),
    t6_resample: bool = False,
    t7_rerecord: bool = False,
    t8_mislabel: bool = False,
) -> pd.DataFrame:
    """Generate clip + truth rows for the given ids (vector of int64).

    ``t1_codecs`` is the container rotation the T1 re-encode transform
    walks; adding ``"flac"`` (real subset codec, ``functions/flac.py``,
    lossless + quantization-matched to ``encode_wav``) plants clips the
    pipeline must entropy-decode.  Default leaves the 16k-clip bench
    corpus byte-identical to prior rounds — flac's per-symbol Python
    decode (~6 us/sample) belongs in oracle fixtures, not the
    throughput-bench hot path (same posture as the image fixture's
    jpg rows).

    ``wav_encodings`` is the in-container sample-coding draw for wav
    rows (keyed by the cluster's shared encoding key, so T0 members
    stay byte-identical).  Adding "ulaw"/"alaw"/"adpcm" (REAL lossy
    codecs, ``functions/g711.py`` / ``adpcm.py``) plants duplicate
    pairs whose decoded PCM differs by genuine quantization noise —
    the detection path's audio-domain Jaccard drops to ~0.92 (G.711) /
    ~0.72 (ADPCM) while the text domain still pairs them (T1 keeps the
    transcript), mirroring how a production crawl mixes telephony
    G.711 and ADPCM WAVs with studio PCM.  Default keeps every corpus
    byte-identical to prior rounds."""
    recs = []
    for idx in ids.tolist():
        plan = _plan(idx)
        enc_ref = idx  # encoding-choice key: cluster members share the
        # base's key so T0 (byte-identical) members encode identically
        if plan is None:
            pcm, sr, codec, words, _ = _base_clip(master_seed, idx, min_dur_s, max_dur_s, base_codecs)
            transform, cluster = "", f"clip_{idx:010d}"
        else:
            base_idx, j = plan
            if j >= 0:
                enc_ref = base_idx
            pcm, sr, codec, words, _ = _base_clip(master_seed, base_idx, min_dur_s, max_dur_s, base_codecs)
            rng = _rng(master_seed, (idx << 1) | 1)  # member-local randomness
            if j == -1:  # T5 near-miss: fresh clip sharing one word with base
                pcm, sr, codec, own_words, _ = _base_clip(
                    master_seed, idx + 10_000_019, min_dur_s, max_dur_s,
                    base_codecs,
                )
                own_words = list(own_words)
                own_words[int(rng.integers(0, len(own_words)))] = words[0]
                transform, cluster, words = "T5", f"clip_{idx:010d}", own_words
            elif j == 0:
                transform, cluster = "base", f"clip_{base_idx:010d}"
            else:
                tf_pool = list(_TRANSFORMS)
                if t6_resample:
                    tf_pool.append("T6")
                if t7_rerecord:
                    tf_pool.append("T7")
                if t8_mislabel:
                    tf_pool.append("T8")
                transform = tf_pool[(base_idx // _BLOCK + j) % len(tf_pool)]
                cluster = f"clip_{base_idx:010d}"
                if transform == "T8":
                    # label noise: the base audio verbatim with a WRONG
                    # transcript (an unrelated draw from the same
                    # vocabulary) — audio-domain Jaccard 1.0, text ~0.
                    # The other discordance class (see T7); detected via
                    # the audio-scoped LSH bands + the verify stage's
                    # audio domain path.
                    words = [
                        VOCAB[int(w)]
                        for w in rng.integers(0, len(VOCAB), len(words))
                    ]
                elif transform == "T7":
                    # re-recording: the SAME script read in a different
                    # session — transcript verbatim, audio independently
                    # synthesized (fresh tones/noise), so text-domain
                    # Jaccard is 1.0 while audio-domain is ~0.  The
                    # cross-modal discordance class the domain-scoped
                    # LSH bands (LSHConfig.domain_bands) exist for: the
                    # combined signature's Jaccard is diluted to
                    # ~|text|/(|text|+2|audio|) and rarely bands.
                    pcm, sr, codec, _w7, _ = _base_clip(
                        master_seed, idx + 20_000_003, min_dur_s, max_dur_s,
                        base_codecs,
                    )
                elif transform == "T6":
                    # sample-rate migration: the same recording ingested
                    # at a different rate (the canonical crawl-corpus
                    # dup class the sketch stage's sr_work normalization
                    # exists for — without it this pair's audio-domain
                    # Jaccard is 0.00)
                    from kmcp_spark.functions.audio import resample_pcm

                    new_sr = 16000 if sr != 16000 else 44100
                    pcm = resample_pcm(pcm, sr, new_sr)
                    sr = new_sr
                elif transform == "T1":
                    cur = t1_codecs.index(codec) if codec in t1_codecs else -1
                    codec = t1_codecs[(cur + 1) % len(t1_codecs)]
                elif transform == "T2":
                    pcm = pcm * 0.8
                elif transform == "T3":
                    pcm = pcm[: int(len(pcm) * 0.9)]
                elif transform == "T4":
                    words = list(words)
                    for _ in range(int(rng.integers(1, 3))):
                        pos = int(rng.integers(0, len(words)))
                        words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if lossy_codecs and plan is None and idx % 16 == 3:
            # independent (singleton) clips only: lossy rows are
            # flow-through subjects, never planted dup-pair members —
            # their transcripts are unique, so text sketches cannot
            # pair them and recall/precision stay untouched
            codec = lossy_codecs[(idx // 16) % len(lossy_codecs)]
            data = _lossy_payload(codec, _rng(master_seed, (idx << 2) | 3))
        else:
            # every other flac row (keyed by enc_ref) lands as dual-mono
            # mid-side STEREO flac (decodes + downmixes to EXACTLY the
            # mono PCM) so the clip fixtures exercise stereo
            # decorrelation end-to-end; all cluster relationships
            # survive because the downmix is lossless
            stereo = codec == "flac" and enc_ref % 2 == 0
            data = _encode(
                pcm, sr, codec, stereo=stereo,
                wav_encoding=wav_encodings[enc_ref % len(wav_encodings)],
            )
        recs.append(
            {
                "clip_id": f"clip_{idx:010d}",
                "bytes": data,
                "sr_hz": sr,
                "dur_ms": int(round(len(pcm) / sr * 1000)),
                "codec": codec,
                "transcript": " ".join(words),
                "cluster_id": cluster,
                "transform": transform,
            }
        )
    return pd.DataFrame.from_records(
        recs,
        columns=[
            "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
            "cluster_id", "transform",
        ],
    )


def generate_clips(spark, n: int, master_seed: int = 42,
                   min_dur_s: float = 1.0, max_dur_s: float = 5.0,
                   partitions: int | None = None,
                   t1_codecs: tuple = ("wav", "pcm_s16le"),
                   base_codecs: tuple = ("wav", "pcm_s16le"),
                   lossy_codecs: tuple = (),
                   wav_encodings: tuple = ("pcm16",),
                   t6_resample: bool = False,
                   t7_rerecord: bool = False,
                   t8_mislabel: bool = False):
    """Distributed generation: (clips_df, truth_df)."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches):
        drop_zip_finders()
        for pdf in batches:
            yield make_rows(
                pdf["id"].to_numpy(), master_seed, min_dur_s, max_dur_s,
                t1_codecs, base_codecs, lossy_codecs, wav_encodings,
                t6_resample, t7_rerecord, t8_mislabel,
            )

    full = spark.range(0, n, 1, parts).mapInPandas(
        gen, schema=CLIPS_SCHEMA + ", cluster_id string, transform string"
    )
    clips = full.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
    truth = full.select("clip_id", "cluster_id", "transform")
    return clips, truth


# ------------------------------------------------------------------ images
# Deterministic synthetic image corpus (multimodal-columns brief): opaque
# binary payloads in four REAL container formats (PNG/BMP/PPM/baseline
# JPEG — pure numpy/stdlib codecs, functions/image.py + jpeg.py) + typed
# metadata, with planted near-dup clusters mirroring the audio corpus
# layout:
#
#     I0 exact      — byte-identical
#     I1 re-encode  — same pixels, different container (lossless except
#                     into/out of jpg, which drifts a few dHash bits)
#     I2 brightness — +/- uniform shift (dHash is comparison-based ->
#                     fingerprint-invariant)
#     I3 noise      — sigma~2 Gaussian pixel noise (a few dHash bits)
#     I4 rescale    — area-downscale to ~75% (dHash is scale-normalized)
#     I5 near-miss  — independent image, own cluster (must NOT pair)

IMAGES_SCHEMA = "item_id string, bytes binary, fmt string, width int, height int"
IMAGE_TRUTH_SCHEMA = "item_id string, cluster_id string, transform string"

_IMG_FMTS = ["png", "bmp", "ppm", "jpg"]
_IMG_TRANSFORMS = ["I0", "I1", "I2", "I3", "I4"]


def _base_image(master_seed: int, idx: int) -> tuple[np.ndarray, str]:
    """Deterministic structured content: smooth gradient field + a few
    solid rectangles — distinct ids land far apart in dHash space."""
    rng = _rng(master_seed ^ 0x1A6E, idx)
    h = int(rng.integers(40, 97))
    w = int(rng.integers(40, 97))
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    img = np.zeros((h, w, 3))
    for c in range(3):
        fy, fx = rng.uniform(0.5, 3.0, 2)
        ph_y, ph_x = rng.uniform(0, 2 * np.pi, 2)
        img[:, :, c] = 128 + 90 * np.sin(2 * np.pi * fy * yy / h + ph_y) * np.cos(
            2 * np.pi * fx * xx / w + ph_x
        )
    for _ in range(int(rng.integers(2, 5))):
        y0, x0 = int(rng.integers(0, h - 8)), int(rng.integers(0, w - 8))
        rh, rw = int(rng.integers(6, h // 2)), int(rng.integers(6, w // 2))
        img[y0 : y0 + rh, x0 : x0 + rw] = rng.integers(0, 256, 3)
    fmt = _IMG_FMTS[int(rng.integers(0, len(_IMG_FMTS)))]
    return np.clip(img, 0, 255).astype(np.uint8), fmt


def _encode_image(img: np.ndarray, fmt: str) -> bytes:
    from kmcp_spark.functions import image as I
    from kmcp_spark.functions.jpeg import encode_jpeg

    # jpg at q95/4:4:4: lossy, but dHash drift measures <=4 bits on this
    # corpus — planted dup pairs stay inside the hamming<=8 band regime
    # even stacked with an I2/I3 photometric edit
    return {
        "png": I.encode_png,
        "bmp": I.encode_bmp,
        "ppm": I.encode_ppm,
        "jpg": lambda a: encode_jpeg(a, quality=95, subsampling="444"),
    }[fmt](img)


def make_image_rows(ids: np.ndarray, master_seed: int = 42) -> pd.DataFrame:
    from kmcp_spark.functions.image import resize_area

    recs = []
    for idx in ids.tolist():
        plan = _plan(idx)
        if plan is None:
            img, fmt = _base_image(master_seed, idx)
            transform, cluster = "", f"img_{idx:010d}"
        else:
            base_idx, j = plan
            img, fmt = _base_image(master_seed, base_idx)
            rng = _rng(master_seed ^ 0x1A6E, (idx << 1) | 1)
            if j == -1:  # I5 near-miss: independent content, own cluster
                img, fmt = _base_image(master_seed, idx + 10_000_019)
                transform, cluster = "I5", f"img_{idx:010d}"
            elif j == 0:
                transform, cluster = "base", f"img_{base_idx:010d}"
            else:
                transform = _IMG_TRANSFORMS[(base_idx // _BLOCK + j) % 5]
                cluster = f"img_{base_idx:010d}"
                if transform == "I1":
                    fmt = _IMG_FMTS[(_IMG_FMTS.index(fmt) + 1) % len(_IMG_FMTS)]
                elif transform == "I2":
                    img = np.clip(
                        img.astype(np.int16) + int(rng.integers(-25, 26)), 0, 255
                    ).astype(np.uint8)
                elif transform == "I3":
                    img = np.clip(
                        img.astype(np.float64) + rng.normal(0, 2.0, img.shape), 0, 255
                    ).astype(np.uint8)
                elif transform == "I4":
                    h, w = img.shape[:2]
                    img = np.stack(
                        [
                            resize_area(img[:, :, c].astype(np.float64),
                                        int(h * 0.75), int(w * 0.75))
                            for c in range(3)
                        ],
                        axis=-1,
                    )
                    img = np.clip(np.round(img), 0, 255).astype(np.uint8)
        data = _encode_image(img, fmt)
        recs.append(
            {
                "item_id": f"img_{idx:010d}",
                "bytes": data,
                "fmt": fmt,
                "width": img.shape[1],
                "height": img.shape[0],
                "cluster_id": cluster,
                "transform": transform,
            }
        )
    return pd.DataFrame.from_records(
        recs,
        columns=["item_id", "bytes", "fmt", "width", "height", "cluster_id", "transform"],
    )


def generate_images(spark, n: int, master_seed: int = 42, partitions: int | None = None):
    """Distributed deterministic image corpus: (images_df, truth_df)."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches):
        drop_zip_finders()
        for pdf in batches:
            yield make_image_rows(pdf["id"].to_numpy(), master_seed)

    full = spark.range(0, n, 1, parts).mapInPandas(
        gen, schema=IMAGES_SCHEMA + ", cluster_id string, transform string"
    )
    images = full.select("item_id", "bytes", "fmt", "width", "height")
    truth = full.select("item_id", "cluster_id", "transform")
    return images, truth


# ---------------------------------------------------------------- skew docs
# Deterministic DEGENERATE document slice for cap-semantics checks: the
# hot-gram cap (operators/dedup.py `_gram_tables` max_gram_docs) and the
# LSH bucket cap / escalation (`operators/lsh.py::bucket_pairs` drop,
# `operators/lsh.py::candidate_pairs` anchor escalation — kmcp's
# oversized-block escalation, `kmcp/cmd/index.go:787-894`) never fire on
# the healthy sf fixtures, so these rows plant corpora where they MUST:
# a boilerplate class larger than the cap and a small class under it.

def skew_doc_rows(
    n_hot: int = 60, n_small: int = 5, unique_tails: bool = True
) -> pd.DataFrame:
    """(doc_id, text) rows: ``n_hot`` docs sharing a 40-word boilerplate
    paragraph (ids 9_000_000+i) and ``n_small`` docs sharing a different
    one (ids 9_100_000+i).

    ``unique_tails=True`` appends four doc-unique words so within-class
    docs are near- but not byte-identical (the gram-cap shape: shared
    grams are exactly the boilerplate-internal ones, so capping the hot
    gram drops the pairs entirely while the small class survives).
    ``unique_tails=False`` keeps each class byte-identical (the
    bucket-cap shape: identical MinHash signatures put the whole class
    in ONE bucket per band, deterministically oversized)."""
    boiler_hot = " ".join(f"boiler{j:02d}" for j in range(40))
    boiler_small = " ".join(f"smallb{j:02d}" for j in range(40))
    recs = []
    for i in range(n_hot):
        tail = f" tailxa{i:04d} tailxb{i:04d} tailxc{i:04d} tailxd{i:04d}" if unique_tails else ""
        recs.append((9_000_000 + i, boiler_hot + tail))
    for i in range(n_small):
        tail = f" tailya{i:04d} tailyb{i:04d} tailyc{i:04d} tailyd{i:04d}" if unique_tails else ""
        recs.append((9_100_000 + i, boiler_small + tail))
    return pd.DataFrame.from_records(recs, columns=["doc_id", "text"])
