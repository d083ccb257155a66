"""Audio decode + spectral-frame tokenization, numpy-vectorized.

The input table carries opaque ``bytes`` plus typed metadata
(sr_hz, dur_ms, codec).  Supported codecs here:

  - ``pcm_s16le``: raw signed-16-bit little-endian mono PCM.
  - ``wav``: RIFF/WAVE container, dispatching on the fmt-chunk format
    tag (parsed directly on bytes so it is zero-copy per Arrow batch):
    integer PCM 8/16/24/32, IEEE float 32/64, G.711 mu-law/A-law
    (``functions/g711.py`` — REAL lossy companding, ~38 dB SNR) and
    mono IMA ADPCM (``functions/adpcm.py`` — REAL lossy 4-bit DPCM);
    multi-channel downmixes to mono; unknown tags flow through as
    decode_ok=false.
  - ``flac``: REAL subset decode (``functions/flac.py`` — pure-numpy
    fixed/LPC prediction + Rice residuals, CRC-verified, mono + all
    four stereo channel assignments incl. mid-side); lossless, so a
    flac re-encode yields bit-identical PCM and identical sketches.
    Stereo downmixes to mono for the feature path (below).
  - anything else (mp3/ogg/aac): STUBBED — lossy audio codecs genuinely
    need native libraries absent from this container; ``decode_pcm``
    raises NotImplementedError and ``decode_work_pcm`` (the decode
    contract every audio operator calls) flows the row through as
    ``decode_ok=false``.  The Spark-side plumbing (schema, UDF
    signature, batch shape) is identical to the real paths.

Spectral tokens: frames of ``frame_len`` samples with hop ``hop_len``;
per frame, log-energies of ``n_bands`` rFFT bands are normalized by the
frame's total energy (making tokens invariant to amplitude scaling —
detection path T2 in FIXTURES.md §2) and quantized to ``quant_levels``;
the per-band levels pack into one uint64 token per frame
(``spectral_tokens_batch``, the one tokenizer).  Token sequences then
shingle like text (rolling n-gram hash, ``select_shingles``).
"""

from __future__ import annotations

import numpy as np

from kmcp_spark.functions.hashing import hash_bytes_rolling
from kmcp_spark.functions.minhash import minimizer_sketch, syncmer_sketch

_U64 = np.uint64


def decode_pcm(data: bytes, codec: str) -> np.ndarray:
    """bytes -> float32 PCM in [-1, 1].  Raises on unsupported codecs.

    float32 is exact here: int16/32768 needs 15 mantissa bits and float32
    has 24, so values are bit-identical to the float64 decode — at half
    the memory traffic (this kernel feeds a bandwidth-bound FFT stage).
    """
    if codec == "pcm_s16le":
        return np.frombuffer(data, dtype="<i2").astype(np.float32) / np.float32(32768.0)
    if codec == "wav":
        return _decode_wav(data)
    if codec == "flac":
        from kmcp_spark.functions.flac import decode_flac

        p = decode_flac(data)[0]
        if p.ndim == 2:
            # stereo (any decorrelation mode): the feature path operates
            # on the mono downmix; mean of identical channels (dual-mono
            # re-encodes of a mono master) reproduces the master exactly
            p = p.mean(axis=1).astype(np.float32)
        return p
    raise NotImplementedError(
        f"codec {codec!r}: no decoder in this environment (audio codec "
        "libraries are not installed); pcm_s16le, wav, and flac "
        "(functions/flac.py, subset) are supported"
    )


def decode_work_pcm(
    data: bytes, codec: str, sr_hz: int, sr_work: int
) -> np.ndarray | None:
    """The one audio decode contract: bytes -> float32 PCM at the working
    rate ``sr_work`` (0 keeps the native rate), or None when the payload
    cannot be decoded.

    NotImplementedError (no decoder for this codec) and ValueError (the
    decoder rejected a malformed payload: truncation, CRC mismatch,
    spec-invalid stream, an invalid sample rate) both mean
    ``decode_ok=false``: the row flows through, and a corrupt clip never
    crashes a Spark task.  Resampling every clip to one working rate
    keeps the same recording ingested at 8/16/44.1 kHz in one frame
    geometry (FIXTURES.md T6; see :func:`resample_pcm`).
    """
    try:
        pcm = decode_pcm(data, codec)
        return resample_pcm(pcm, int(sr_hz), sr_work) if sr_work else pcm
    except (NotImplementedError, ValueError):
        return None


def _decode_wav(data: bytes) -> np.ndarray:
    """RIFF/WAVE parser dispatching on the fmt-chunk format tag.

    Real decoders (a corpus crawl's WAV files are NOT all PCM16):

      * tag 1 (PCM): 8-bit unsigned, 16/24/32-bit signed LE
      * tag 3 (IEEE float): float32 / float64
      * tag 6 (A-law) / tag 7 (mu-law): ITU-T G.711 companding —
        REAL lossy codecs (``functions/g711.py``), ~38 dB SNR
      * tag 0x11 (IMA ADPCM): 4-bit adaptive DPCM, mono
        (``functions/adpcm.py``), fact-chunk-truncated

    Multi-channel streams downmix to mono (mean — same posture as the
    stereo flac path).  Unknown format tags raise NotImplementedError
    (decode_ok=false flow-through, like mp3/ogg); structurally corrupt
    payloads raise ValueError — a data chunk claiming more bytes than
    the payload holds is a truncated stream, and silently sketching
    partial PCM would make a cut-off upload look like a distinct
    (non-duplicate) recording.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    fact_samples = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("WAVE fmt chunk shorter than 16 bytes")
            fmt = {
                "tag": int.from_bytes(body[0:2], "little"),
                "channels": int.from_bytes(body[2:4], "little"),
                "block_align": int.from_bytes(body[12:14], "little"),
                "bits": int.from_bytes(body[14:16], "little"),
                "extra": body[18:size] if size >= 18 else b"",
            }
        elif cid == b"fact" and size >= 4:
            fact_samples = int.from_bytes(body[0:4], "little")
        elif cid == b"data":
            if size > len(data) - pos - 8:
                raise ValueError("WAVE data chunk truncated")
            if fmt is None:
                # headerless writers exist, but without a fmt chunk the
                # sample encoding is a guess — historical corpus rows
                # (and encode_wav output) always carry fmt, so treat a
                # missing one as corruption, not a dialect
                raise ValueError("WAVE data chunk before fmt chunk")
            return _decode_wav_data(body, fmt, fact_samples)
        pos += 8 + size + (size & 1)
    raise ValueError("WAVE data chunk not found")


def _decode_wav_data(raw: bytes, fmt: dict, fact_samples: int | None) -> np.ndarray:
    tag, ch = fmt["tag"], fmt["channels"]
    if ch < 1:
        raise ValueError("WAVE fmt declares zero channels")
    if tag == 0x11:  # IMA ADPCM
        from kmcp_spark.functions.adpcm import decode_blocks

        if ch != 1:
            raise NotImplementedError("multi-channel IMA ADPCM not supported")
        ba = fmt["block_align"]
        if ba < 8 or len(raw) % ba:
            raise ValueError("ADPCM data is not a whole number of blocks")
        blocks = np.frombuffer(raw, dtype=np.uint8).reshape(-1, ba)
        pcm = decode_blocks(blocks).ravel()
        if fact_samples is not None:
            if fact_samples > pcm.size:
                raise ValueError("ADPCM fact chunk exceeds decoded samples")
            pcm = pcm[:fact_samples]  # drop final-block padding
        return pcm.astype(np.float32) / np.float32(32768.0)
    if tag == 6 or tag == 7:  # G.711
        from kmcp_spark.functions.g711 import alaw_decode, ulaw_decode

        codes = np.frombuffer(raw, dtype=np.uint8)
        i16 = (alaw_decode if tag == 6 else ulaw_decode)(codes)
        x = i16.astype(np.float32) / np.float32(32768.0)
    elif tag == 1:  # integer PCM
        bits = fmt["bits"]
        if bits == 16:
            x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / np.float32(32768.0)
        elif bits == 8:
            u = np.frombuffer(raw, dtype=np.uint8).astype(np.float32)
            x = (u - np.float32(128.0)) / np.float32(128.0)
        elif bits == 24:
            if len(raw) % 3:
                raise ValueError("24-bit PCM data not a whole number of samples")
            b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int32)
            v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            x = v.astype(np.float32) / np.float32(1 << 23)
        elif bits == 32:
            x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / np.float32(1 << 31)
        else:
            raise NotImplementedError(f"{bits}-bit integer PCM not supported")
    elif tag == 3:  # IEEE float
        bits = fmt["bits"]
        if bits == 32:
            x = np.frombuffer(raw, dtype="<f4").astype(np.float32)
        elif bits == 64:
            x = np.frombuffer(raw, dtype="<f8").astype(np.float32)
        else:
            raise NotImplementedError(f"{bits}-bit IEEE float PCM not supported")
    else:
        raise NotImplementedError(
            f"WAVE format tag 0x{tag:04x}: no decoder in this environment"
        )
    if ch > 1:
        if x.size % ch:
            raise ValueError("WAVE data not a whole number of frames")
        x = x.reshape(-1, ch).mean(axis=1).astype(np.float32)
    return x


def encode_wav(pcm: np.ndarray, sr_hz: int, encoding: str = "pcm16") -> bytes:
    """float PCM in [-1,1] -> mono WAV bytes (for the corpus generator).

    ``encoding`` selects the in-container sample coding: "pcm16"
    (default — byte-identical to prior rounds), "float32" (IEEE, tag 3),
    "ulaw"/"alaw" (G.711, tags 7/6 — REAL lossy, ~38 dB SNR), or
    "adpcm" (IMA, tag 0x11 — REAL lossy, 4 bits/sample)."""
    x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
    i16 = (x * 32767.0).astype("<i2")
    n = i16.size
    if encoding == "pcm16":
        return _wav_container(1, sr_hz, 2, 16, i16.tobytes())
    if encoding == "float32":
        return _wav_container(3, sr_hz, 4, 32, x.astype("<f4").tobytes(), fact=n)
    if encoding in ("ulaw", "alaw"):
        from kmcp_spark.functions.g711 import alaw_encode, ulaw_encode

        codes = (ulaw_encode if encoding == "ulaw" else alaw_encode)(i16)
        tag = 7 if encoding == "ulaw" else 6
        return _wav_container(tag, sr_hz, 1, 8, codes.tobytes(), fact=n)
    if encoding == "adpcm":
        from kmcp_spark.functions.adpcm import encode_blocks

        blocks, n_samples = encode_blocks(i16, block_bytes=256)
        spb = 1 + (256 - 4) * 2
        extra = (2).to_bytes(2, "little") + spb.to_bytes(2, "little")
        return _wav_container(
            0x11, sr_hz, 256, 4, blocks.tobytes(), fact=n_samples, extra=extra
        )
    raise ValueError(f"unknown wav encoding {encoding!r}")


def _wav_container(tag: int, sr_hz: int, block_align: int, bits: int,
                   payload: bytes, fact: int | None = None,
                   extra: bytes = b"") -> bytes:
    """Assemble a mono RIFF/WAVE file around an encoded data payload."""
    fmt_body = (
        tag.to_bytes(2, "little")
        + (1).to_bytes(2, "little")            # mono
        + int(sr_hz).to_bytes(4, "little")
        + int(sr_hz * block_align).to_bytes(4, "little")  # nominal byte rate
        + block_align.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
        + extra
    )
    chunks = b"fmt " + len(fmt_body).to_bytes(4, "little") + fmt_body
    if len(fmt_body) & 1:
        chunks += b"\x00"
    if fact is not None:
        chunks += b"fact" + (4).to_bytes(4, "little") + fact.to_bytes(4, "little")
    chunks += b"data" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunks += b"\x00"
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def spectral_tokens_batch(
    pcms: list[np.ndarray],
    srs: list[int],
    frame_ms: int = 25,
    hop_ms: int = 10,
    n_bands: int = 8,
    quant_levels: int = 8,
) -> list[np.ndarray]:
    """PCM rows -> per row, one uint64 token per frame (amplitude-invariant
    quantized bands).  The one audio tokenizer: every shingle path
    (whole-clip sketch, chunk sketch) frames its audio here.

    Rows are grouped by sample rate (same frame geometry); each group's
    frames are stacked into matrices of at most ~1M float32 elements,
    each transformed with ONE rfft + one quantization pass, then split
    back per row.  Every frame is windowed, transformed and quantized on
    its own, so a row's tokens do not depend on the rows batched with
    it; stacking buys one large allocation + FFT per chunk instead of
    per row — per-row allocation churn is what throttles scaling at high
    core counts on page-fault-slow hosts.
    """
    out: list[np.ndarray] = [np.empty(0, dtype=_U64)] * len(pcms)
    by_sr: dict[int, list[int]] = {}
    for i, sr in enumerate(srs):
        by_sr.setdefault(int(sr), []).append(i)
    # bound the stacked frame matrix to ~1M float32 (4 MB): small enough
    # that frames + rFFT output + band sums stay L2/L3-resident per task
    # (the earlier 8M-element bound made every pass stream ~100 MB of
    # working set through the shared memory bus, which capped 1→4-core
    # scaling at ~0.5 on this host), large enough that each chunk still
    # amortizes the FFT call over hundreds of frames
    max_elems = 1_000_000
    # (frame_len, hop_len, rows, frames per row) per stacked chunk
    chunked: list[tuple[int, int, list[int], list[int]]] = []
    for sr, rows in by_sr.items():
        frame_len = max(int(sr * frame_ms / 1000), 8)
        hop_len = max(int(sr * hop_ms / 1000), 4)
        cur: list[int] = []
        counts: list[int] = []
        cur_elems = 0
        for i in rows:
            nf = max(1 + (len(pcms[i]) - frame_len) // hop_len, 0)
            if cur and cur_elems + nf * frame_len > max_elems:
                chunked.append((frame_len, hop_len, cur, counts))
                cur, counts, cur_elems = [], [], 0
            cur.append(i)
            counts.append(nf)
            cur_elems += nf * frame_len
        if cur:
            chunked.append((frame_len, hop_len, cur, counts))
    bits = max(int(np.ceil(np.log2(quant_levels))), 1)
    for frame_len, hop_len, rows, counts in chunked:
        total = sum(counts)
        if total == 0:
            continue
        # float32 throughout: this kernel is memory-bandwidth-bound at
        # high parallelism; halving element width nearly doubles
        # aggregate throughput.  (Quantized band ratios are insensitive
        # to the reduced precision.)
        frames = np.empty((total, frame_len), dtype=np.float32)
        pos = 0
        for i, nf in zip(rows, counts):
            if nf == 0:
                continue
            x = np.asarray(pcms[i], dtype=np.float32)
            # strided view of the hopped frames — no int64 index matrix
            # (the index gather cost 8 bytes of extra traffic per sample)
            view = np.lib.stride_tricks.sliding_window_view(x, frame_len)[::hop_len]
            frames[pos : pos + nf] = view[:nf]
            pos += nf
        frames *= np.hanning(frame_len).astype(np.float32)[None, :]
        spec_c = np.fft.rfft(frames, axis=1)
        spec = spec_c.real**2 + spec_c.imag**2  # (n_frames, nbins)
        nbins = spec.shape[1]
        edges = np.linspace(0, nbins, n_bands + 1).astype(int)
        band_e = np.stack(
            [
                spec[:, edges[b] : max(edges[b + 1], edges[b] + 1)].sum(axis=1)
                for b in range(n_bands)
            ],
            axis=1,
        )
        # amplitude cancels in the ratio to the frame's total energy
        rel = band_e / np.maximum(band_e.sum(axis=1, keepdims=True), 1e-30)
        q = np.minimum((rel * quant_levels).astype(np.int64), quant_levels - 1)
        # pack band levels into one token (levels <= 8 -> 3 bits/band)
        tok = np.zeros(q.shape[0], dtype=_U64)
        for b in range(n_bands):
            tok = (tok << _U64(bits)) | q[:, b].astype(_U64)
        pos = 0
        for i, nf in zip(rows, counts):
            out[i] = tok[pos : pos + nf]
            pos += nf
    return out


def select_shingles(
    tok: np.ndarray,
    ngram: int = 4,
    select: str = "full",
    minimizer_w: int = 8,
    syncmer_s: int = 5,
) -> np.ndarray:
    """One row's tokens -> sorted distinct hashes of token n-grams (the
    audio shingle set).

    ``select`` picks the down-sampling scheme over the positional n-gram
    hash stream, mirroring kmcp's sketch families
    (`kmcp/cmd/compute.go:746-803`): "full" keeps every n-gram,
    "minimizer" keeps window minima (Roberts 2004), "syncmer" keeps
    closed syncmers (Edgar 2021).
    """
    if tok.shape[0] < ngram:
        return np.empty(0, dtype=_U64)
    h = hash_bytes_rolling(tok, ngram)  # positional stream
    if select == "minimizer":
        return minimizer_sketch(h, minimizer_w)
    if select == "syncmer":
        return syncmer_sketch(h, syncmer_s)
    return np.unique(h)


def spectral_shingle_hashes_batch(
    pcms: list[np.ndarray],
    srs: list[int],
    ngram: int = 4,
    select: str = "full",
    minimizer_w: int = 8,
    syncmer_s: int = 5,
    frame_ms: int = 25,
    hop_ms: int = 10,
    n_bands: int = 8,
    quant_levels: int = 8,
) -> list[np.ndarray]:
    """PCM rows -> per row, the audio shingle set:
    :func:`spectral_tokens_batch`, then :func:`select_shingles`."""
    toks = spectral_tokens_batch(pcms, srs, frame_ms, hop_ms, n_bands, quant_levels)
    return [select_shingles(t, ngram, select, minimizer_w, syncmer_s) for t in toks]


def spectral_shingle_hashes(
    pcm: np.ndarray,
    sr_hz: int,
    ngram: int = 4,
    select: str = "full",
    minimizer_w: int = 8,
    syncmer_s: int = 5,
    **tok_kwargs,
) -> np.ndarray:
    """One clip's audio shingle set: a batch of one."""
    return spectral_shingle_hashes_batch(
        [pcm], [sr_hz], ngram, select, minimizer_w, syncmer_s, **tok_kwargs
    )[0]


def _next_smooth(n: int) -> int:
    """Smallest 7-smooth integer >= n (pocketfft has fast radices for
    2/3/5/7; anything larger falls into the slow Bluestein path)."""
    while True:
        m = n
        for p in (2, 3, 5, 7):
            while m % p == 0:
                m //= p
        if m == 1:
            return n
        n += 1


def resample_pcm(pcm: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Band-limited Fourier resampling to ``sr_out`` (float32 out).

    The canonical-rate normalizer for the sketch path: the spectral
    token's band edges span 0..Nyquist in RELATIVE bin fractions, so the
    same recording ingested at two sample rates tokenizes into disjoint
    shingle sets (measured Jaccard 0.00 at 16 kHz vs 44.1 kHz) unless
    every clip is first brought to one working rate.  kmcp never meets
    this — DNA has one "sample rate" — but a crawl-scale audio corpus
    mixes 8/16/44.1/48 kHz, and the same recording at two rates is a
    canonical duplicate class (FIXTURES.md transform T6).

    Method: rfft → spectrum truncation (downsample, ideal anti-alias)
    or zero-padding (upsample) → irfft at the output length — exact
    sinc interpolation under the periodic extension.  The input is
    edge-padded to ``M * next_smooth(ceil(n/M))`` samples so (a) both
    transform lengths stay on pocketfft's fast radices for ANY clip
    length (an 88201-sample clip would otherwise hit the ~10x-slower
    Bluestein path) and (b) the padded length is an exact multiple of
    the rate ratio's denominator, keeping the output grid exactly on
    ``sr_out``.  The pad is cropped from the output, so only boundary
    ringing (≈ one 25 ms frame at each edge, ~80 dB SNR interior)
    differs from an infinite-length resample — tokens quantize band
    energies to 8 levels and are insensitive to it.  O(n log n), no
    gathers, ~1 ms per bench clip; per-row cost, embarrassingly
    parallel across the sketch stage's Arrow batches.
    """
    import math

    if sr_in <= 0 or sr_out <= 0:
        raise ValueError(f"invalid sample rates {sr_in}->{sr_out}")
    x = np.asarray(pcm, dtype=np.float32)
    if sr_in == sr_out or x.shape[0] == 0:
        return x
    g = math.gcd(int(sr_in), int(sr_out))
    up, down = int(sr_out) // g, int(sr_in) // g
    n_in = x.shape[0]
    n_out = int(np.ceil(n_in * up / down))
    blocks = _next_smooth(-(-n_in // down))
    n_pad = down * blocks
    xp = np.concatenate([x, np.full(n_pad - n_in, x[-1], dtype=np.float32)])
    spec = np.fft.rfft(xp)
    n_op = up * blocks
    nb = n_op // 2 + 1
    if nb <= spec.shape[0]:
        out_spec = spec[:nb].copy()
        out_spec[-1] = out_spec[-1].real  # fold the split Nyquist bin
    else:
        out_spec = np.zeros(nb, dtype=np.complex128)
        out_spec[: spec.shape[0]] = spec
        if n_pad % 2 == 0:
            # the input's Nyquist coefficient implicitly carried both
            # half-spectrum mirrors; as an interior bin of the longer
            # spectrum it must be halved (it keeps only the +f half)
            out_spec[spec.shape[0] - 1] *= 0.5
    y = np.fft.irfft(out_spec, n_op) * (n_op / n_pad)
    return y[:n_out].astype(np.float32)


def snr_db(reference: np.ndarray, test: np.ndarray) -> float:
    """SNR of ``test`` vs ``reference`` in dB (input_hint invariant >= 30)."""
    n = min(reference.shape[0], test.shape[0])
    if n == 0:
        return -np.inf
    r, t = reference[:n], test[:n]
    noise = float(np.sum((r - t) ** 2))
    sig = float(np.sum(r**2))
    if noise == 0.0:
        return np.inf
    if sig == 0.0:
        return -np.inf
    return 10.0 * np.log10(sig / noise)
