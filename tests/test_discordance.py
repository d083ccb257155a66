"""Cross-modal discordance: T7/T8 corpus transforms, domain-scoped LSH
bands, and the label-noise / re-recording classifier
(operators/discordance.py)."""

from dataclasses import replace

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from kmcp_spark.config import PipelineConfig
from kmcp_spark.corpus import make_rows
from kmcp_spark.operators.discordance import classify_pairs, discordant_pairs
from kmcp_spark.operators.lsh import band_buckets, candidate_pairs
from kmcp_spark.operators.sketch import sketch_clips
from kmcp_spark.plans.pipeline import near_dup_pairs


def _domain_cfg():
    cfg = PipelineConfig()
    return replace(
        cfg,
        sketch=replace(cfg.sketch, domain_perm=16),
        lsh=replace(cfg.lsh, domain_bands=4),
    )


def _rows(n=140, **kw):
    return make_rows(
        np.arange(n), min_dur_s=0.4, max_dur_s=0.9,
        t6_resample=True, t7_rerecord=True, t8_mislabel=True, **kw
    )


# ------------------------------------------------------------- corpus


def test_t7_same_transcript_different_audio():
    df = _rows()
    base = df[df["transform"] == "base"].set_index("cluster_id")
    t7 = df[df["transform"] == "T7"]
    assert len(t7) > 0
    for _, r in t7.iterrows():
        b = base.loc[r.cluster_id]
        assert r.transcript == b.transcript
        assert r.bytes != b.bytes  # independently synthesized audio


def test_t8_same_audio_different_transcript():
    df = _rows()
    base = df[df["transform"] == "base"].set_index("cluster_id")
    t8 = df[df["transform"] == "T8"]
    assert len(t8) > 0
    for _, r in t8.iterrows():
        b = base.loc[r.cluster_id]
        assert r.transcript != b.transcript
        # same PCM; container may differ only via the encoding draw —
        # both sides use the cluster's shared key, so bytes match
        assert r.bytes == b.bytes


def test_t7_t8_determinism():
    a, b = _rows(), _rows()
    assert a["transcript"].tolist() == b["transcript"].tolist()
    assert all(x == y for x, y in zip(a["bytes"], b["bytes"]))


def test_all_transforms_planted_at_140():
    df = _rows(140)
    planted = set(df["transform"]) - {""}
    assert {"base", "T0", "T1", "T2", "T3", "T4", "T5", "T6", "T7", "T8"} <= planted


# --------------------------------------------------- classifier (unit)


def test_classify_pairs_rule(spark):
    rows = pd.DataFrame(
        {
            "a": ["x1", "x2", "x3", "x4", "x5"],
            "b": ["y1", "y2", "y3", "y4", "y5"],
            "text_jaccard": [0.01, 1.0, 0.9, 0.6, 1.0],
            "audio_jaccard": [1.0, 0.02, 0.9, 1.0, 0.02],
            "min_n_text": [50, 50, 50, 50, 5],
            "min_n_audio": [50, 50, 50, 50, 50],
        }
    )
    out = {
        r["a"]: r["modality_class"]
        for r in classify_pairs(spark.createDataFrame(rows)).collect()
    }
    assert out["x1"] == "label_noise"
    assert out["x2"] == "rerecording"
    assert out["x3"] == "concordant"  # both domains agree
    assert out["x4"] == "concordant"  # gray zone: text 0.6 not < 0.5
    assert out["x5"] == "concordant"  # text domain too small to assert


# ------------------------------------------------ domain-scoped bands


def test_domain_bands_surface_single_modality_pairs(spark):
    """A re-recording with LONG audio and a SHORT transcript: the
    combined signature's Jaccard is diluted to ~|text|/(|text|+2|audio|)
    (a few percent here), so combined-only banding cannot surface the
    pair, while the text-domain bands collide with certainty."""
    from kmcp_spark.functions.audio import encode_wav

    cfg = _domain_cfg()

    def tones(seed, dur_s=8.0, sr=16000):
        rng = np.random.default_rng(seed)
        t = np.arange(int(sr * dur_s)) / sr
        pcm = np.zeros_like(t)
        seg = int(sr * 0.2)
        for s0 in range(0, len(t), seg):
            st = t[s0:s0 + seg]
            rel = np.linspace(0.0, 1.0, len(st))
            for _ in range(3):
                f = float(rng.uniform(100, 4000))
                # chirp so successive frames tokenize differently
                pcm[s0:s0 + seg] += 0.2 * np.sin(
                    2 * np.pi * f * (1.0 + 0.3 * rel) * st
                )
        return np.clip(pcm, -0.99, 0.99)

    script = "same short script read twice"
    pdf = pd.DataFrame(
        {
            "clip_id": ["take1", "take2"],
            "bytes": [encode_wav(tones(1), 16000), encode_wav(tones(2), 16000)],
            "sr_hz": [16000, 16000],
            "dur_ms": [8000, 8000],
            "codec": ["wav", "wav"],
            "transcript": [script, script],
        }
    )
    clips = spark.createDataFrame(pdf)
    sk = sketch_clips(clips, cfg).localCheckpoint(eager=True)
    assert "minhash_text" in sk.columns and "minhash_audio" in sk.columns
    row = {r.clip_id: r for r in sk.collect()}
    # the dilution premise holds: text is a small minority of the set
    # (combined Jaccard ~ n_text/(size_a+size_b-n_text) stays far below
    # banding reach at r=4)
    assert row["take1"].n_text * 8 < row["take1"].size + row["take2"].size

    p0, _ = candidate_pairs(
        band_buckets(sk, replace(cfg.lsh, domain_bands=0)), cfg.lsh.max_bucket
    )
    p1, _ = candidate_pairs(band_buckets(sk, cfg.lsh), cfg.lsh.max_bucket)
    assert p0.count() == 0, "combined-only banding should not reach this pair"
    got = p1.collect()
    assert len(got) == 1 and got[0].a == "take1" and got[0].b == "take2"
    # identical text -> ALL text-domain bands collide (certainty, not luck)
    assert got[0].shared_bands >= cfg.lsh.domain_bands


def test_null_domain_signature_emits_no_bands(spark):
    cfg = _domain_cfg()
    # two decode-failed clips (no audio decoder): audio domain empty ->
    # NULL signature -> NO audio band rows, so they can never collide
    # with each other through the empty domain
    pdf = pd.DataFrame(
        {
            "clip_id": ["m1", "m2"],
            "bytes": [b"\xff\xfb\x90\x64" + b"\x00" * 64, b"OggS\x00\x02" + b"\x01" * 64],
            "sr_hz": [16000, 16000],
            "dur_ms": [500, 500],
            "codec": ["mp3", "ogg"],
            "transcript": ["totally unrelated words here", "other words entirely now"],
        }
    )
    sk = sketch_clips(spark.createDataFrame(pdf), cfg)
    rows = sk.collect()
    assert all(r.minhash_audio is None for r in rows)
    buckets = band_buckets(sk, cfg.lsh)
    audio_rows = buckets.filter(F.col("band_id") >= 20_000).count()
    assert audio_rows == 0


def test_domain_config_invalidates_fingerprint():
    """Turning domain signatures/bands on must invalidate existing
    checkpoints (a resumed sketch table without the domain columns
    would break banding)."""
    assert PipelineConfig().fingerprint() != _domain_cfg().fingerprint()


def test_config_guards(spark):
    """Misconfigured domain banding fails loudly, driver-side."""
    import pytest

    cfg = PipelineConfig()
    short = replace(
        cfg,
        sketch=replace(cfg.sketch, domain_perm=8),   # < 4 bands * 4 rows
        lsh=replace(cfg.lsh, domain_bands=4),
    )
    clips = spark.createDataFrame(
        _rows(20).drop(columns=["cluster_id", "transform"])
    )
    with pytest.raises(ValueError, match="domain_perm"):
        sketch_clips(clips, short)
    # banding without domain signatures in the sketch table
    sk = sketch_clips(clips, PipelineConfig())
    with pytest.raises(ValueError, match="domain signatures"):
        band_buckets(sk, short.lsh)


# --------------------------------------------------------- end-to-end


def test_discordant_pairs_end_to_end(spark):
    cfg = _domain_cfg()
    raw = _rows(140)
    clips = spark.createDataFrame(raw.drop(columns=["cluster_id", "transform"]))
    sk = sketch_clips(clips, cfg).localCheckpoint(eager=True)
    verified, _ = near_dup_pairs(sk, clips, cfg)
    verified = verified.localCheckpoint(eager=True)
    disc = discordant_pairs(verified).toPandas()
    tmap = dict(zip(raw.clip_id, raw["transform"]))
    by_class = {
        c: {(tmap[r.a], tmap[r.b]) for r in g.itertuples()}
        for c, g in disc.groupby("modality_class")
    }
    # every planted T7 pair that verified is a rerecording, T8 label noise
    assert any("T7" in p for p in by_class.get("rerecording", set()))
    assert any("T8" in p for p in by_class.get("label_noise", set()))
    # no discordant pair lacks a planted discordant member
    for c, ps in by_class.items():
        tag = "T7" if c == "rerecording" else "T8"
        assert all(tag in p for p in ps), (c, ps)

    # dedup policy: dropping rerecording edges before CC keeps each T7
    # its own cluster while T8 (label noise) still merges with its base
    from kmcp_spark.operators.cluster import connected_components
    from kmcp_spark.operators.discordance import filter_edges

    labels = connected_components(
        filter_edges(verified), all_nodes=sk.select("clip_id")
    ).toPandas()
    lmap = dict(zip(labels.clip_id, labels.cluster_id))
    base_of = dict(zip(raw.clip_id, raw.cluster_id))
    for cid, tf in zip(raw.clip_id, raw["transform"]):
        if tf == "T7":
            assert lmap[cid] == cid, "re-recording must stay its own cluster"
        elif tf == "T8":
            assert lmap[cid] == lmap[base_of[cid]], "label noise must merge"
