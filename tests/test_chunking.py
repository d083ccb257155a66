"""Chunked sketching (the --split-number analog): an excerpt embedded
inside a longer clip must surface through chunk-level LSH with
near-1.0 chunk Jaccard, even though whole-clip similarity is diluted."""

import numpy as np
import pandas as pd
import pytest

from kmcp_spark.config import PipelineConfig
from kmcp_spark.corpus import CLIPS_SCHEMA
from kmcp_spark.functions.audio import encode_wav
from kmcp_spark.operators.chunking import (
    _chunk_bounds,
    aggregate_chunk_matches,
    chunk_candidate_pairs,
    sketch_clips_chunked,
)


def test_chunk_bounds_geometry():
    # covers every frame; last chunk anchored to the end
    b = _chunk_bounds(1000, 300, 50)
    assert b[0][0] == 0 and b[-1][1] == 1000
    assert all(e - s == 300 for s, e in b)
    # overlap respected
    assert b[1][0] == 250
    # short input: single chunk
    assert _chunk_bounds(100, 300, 50) == [(0, 100)]


@pytest.fixture(scope="module")
def embedded_corpus(spark):
    """clip long_A of 8 s; clip sub_B = seconds 3..5 of A; clip other_C
    unrelated; clip bad_D a truncated (undecodable) wav."""
    sr = 16000
    rng = np.random.default_rng(77)
    t = np.arange(8 * sr) / sr
    a = np.zeros_like(t)
    for s0 in range(0, len(t), sr // 5):
        f = rng.uniform(100, 3000)
        seg = t[s0 : s0 + sr // 5]
        a[s0 : s0 + sr // 5] += 0.3 * np.sin(2 * np.pi * f * seg)
    a += rng.normal(0, 0.01, len(t))
    b = a[3 * sr : 5 * sr]
    c = rng.normal(0, 0.2, 4 * sr)
    corrupt = encode_wav(c, sr)[:-500]  # truncated upload
    rows = pd.DataFrame(
        {
            "clip_id": ["long_A", "sub_B", "other_C", "bad_D"],
            "bytes": [encode_wav(x, sr) for x in (a, b, c)] + [corrupt],
            "sr_hz": [sr] * 4,
            "dur_ms": [8000, 2000, 4000, 4000],
            "codec": ["wav"] * 4,
            "transcript": ["alpha beta", "gamma delta", "epsilon zeta", "eta theta"],
        }
    )
    return spark.createDataFrame(rows, schema=CLIPS_SCHEMA)


def test_chunk_codes_follow_the_sketch_family(spark, embedded_corpus):
    # a minimizer chunk sketch keeps a proper subset of the chunk's
    # full shingle set, as the whole-clip sketch does
    from dataclasses import replace

    full_cfg = PipelineConfig()
    mini_cfg = replace(full_cfg, sketch=replace(full_cfg.sketch, audio_select="minimizer"))

    def codes(cfg):
        pdf = sketch_clips_chunked(embedded_corpus, cfg).toPandas()
        pdf = pdf[pdf.decode_ok]
        return {(r.clip_id, r.chunk_idx): set(r.codes.tolist()) for r in pdf.itertuples()}

    full, mini = codes(full_cfg), codes(mini_cfg)
    assert full.keys() == mini.keys() and len(full) > 3
    for key, m in mini.items():
        assert m < full[key], key


def test_embedded_excerpt_found_via_chunks(spark, embedded_corpus):
    cfg = PipelineConfig()
    sk = sketch_clips_chunked(embedded_corpus, cfg, chunk_sec=2.0, overlap_sec=0.5)
    skp = sk.toPandas()
    assert skp[skp.clip_id == "long_A"]["n_chunks"].iloc[0] > 1
    assert (skp[skp.clip_id == "sub_B"]["n_chunks"] == 1).all()
    # the corrupt clip flows through as one empty chunk with decode_ok=false
    bad = skp[skp.clip_id == "bad_D"]
    assert len(bad) == 1 and not bad["decode_ok"].iloc[0] and bad["size"].iloc[0] == 0
    assert skp[skp.clip_id != "bad_D"]["decode_ok"].all()

    sk_cached = sk.localCheckpoint(eager=True)
    pairs = chunk_candidate_pairs(sk_cached, bands=cfg.lsh.bands, rows_per_band=cfg.lsh.rows_per_band)
    agg = aggregate_chunk_matches(pairs, sk_cached, min_chunk_jaccard=0.3).toPandas()
    ab = agg[(agg.a == "long_A") & (agg.b == "sub_B")]
    assert len(ab) == 1, f"excerpt not found: {agg}"
    assert ab["best_chunk_containment"].iloc[0] >= 0.8
    # neither the unrelated clip nor the corrupt one pairs with anything
    for other in ("other_C", "bad_D"):
        assert not ((agg.a == other) | (agg.b == other)).any()


def test_chunk_sketch_determinism(spark, embedded_corpus):
    cfg = PipelineConfig()
    s1 = sketch_clips_chunked(embedded_corpus, cfg).toPandas().sort_values(["clip_id", "chunk_idx"])
    s2 = sketch_clips_chunked(embedded_corpus, cfg).toPandas().sort_values(["clip_id", "chunk_idx"])
    assert s1["size"].tolist() == s2["size"].tolist()
    for x, y in zip(s1["minhash"], s2["minhash"]):
        assert np.array_equal(x, y)


def test_depth_dispersion_gate_drops_uneven_member(spark):
    """Stage-3 parity (kmcp chunksRelDepthStd): a false member whose
    intra-cluster matches concentrate on ONE of its chunks is
    re-singletoned; evenly-covered genuine members pass."""
    from kmcp_spark.operators.chunking import depth_dispersion_gate

    # genuine members c1,c2 (4 chunks each, every chunk matched) + false
    # member c4 (8 chunks, all depth on chunk 0) in one cluster
    matched = spark.createDataFrame(
        [("c1", i, "c2", i, 0.9) for i in range(4)]
        + [("c1", 0, "c4", 0, 0.9)],
        "a string, a_chunk int, b string, b_chunk int, chunk_jaccard double",
    )
    sketches = spark.createDataFrame(
        [("c1", 4), ("c2", 4), ("c4", 8)], "clip_id string, n_chunks int"
    )
    labels = spark.createDataFrame(
        [("c1", "c1"), ("c2", "c1"), ("c4", "c1")],
        "clip_id string, cluster_id string",
    )
    out = depth_dispersion_gate(matched, sketches, labels).toPandas().set_index("clip_id")
    # c4: rel_depth = [8,0,...]; pop std = sqrt(8-1) ~ 2.65 > 2.0 -> dropped
    assert not out.loc["c4", "depth_gate_passed"]
    assert out.loc["c4", "cluster_id"] == "c4"
    assert abs(out.loc["c4", "rel_depth_std"] - 7 ** 0.5) < 1e-6
    # genuine members pass: c2 is perfectly even (std 0); c1 carries the
    # false member's extra depth on chunk 0 (rel depths [1.6,.8,.8,.8],
    # std ~0.346) but stays far under the 2.0 gate
    for c in ("c1", "c2"):
        assert out.loc[c, "depth_gate_passed"]
        assert out.loc[c, "cluster_id"] == "c1"
    assert out.loc["c2", "rel_depth_std"] < 1e-9
    assert abs(out.loc["c1", "rel_depth_std"] - 0.12 ** 0.5) < 1e-5


def test_depth_dispersion_gate_trivial_cases(spark):
    """Singletons (no matches) and 1-chunk clips pass trivially."""
    from kmcp_spark.operators.chunking import depth_dispersion_gate

    matched = spark.createDataFrame(
        [("s1", 0, "s2", 0, 0.9)],
        "a string, a_chunk int, b string, b_chunk int, chunk_jaccard double",
    )
    sketches = spark.createDataFrame(
        [("s1", 1), ("s2", 1), ("lone", 4)], "clip_id string, n_chunks int"
    )
    labels = spark.createDataFrame(
        [("s1", "s1"), ("s2", "s1"), ("lone", "lone")],
        "clip_id string, cluster_id string",
    )
    out = depth_dispersion_gate(matched, sketches, labels).toPandas().set_index("clip_id")
    assert out["depth_gate_passed"].all()
    assert out.loc["s1", "cluster_id"] == "s1"
    assert out.loc["lone", "cluster_id"] == "lone"


def test_min_chunk_frac_gate(spark):
    """-p/--min-chunks-fraction preset gate: a pair matching only a small
    fraction of the smaller clip's chunks is dropped at high presets."""
    from kmcp_spark.operators.chunking import aggregate_chunk_matches

    # one chunk pair matched out of 4 chunks on the smaller side
    pairs = spark.createDataFrame(
        [("x", 0, "y", 0, 1)],
        "a string, a_chunk int, b string, b_chunk int, shared_bands long",
    )
    codes = list(range(1, 40))
    sk = spark.createDataFrame(
        [("x", c, codes, len(codes), 4) for c in range(4)]
        + [("y", c, codes, len(codes), 6) for c in range(6)],
        "clip_id string, chunk_idx int, codes array<bigint>, size long, n_chunks int",
    )
    loose = aggregate_chunk_matches(pairs, sk, min_chunk_jaccard=0.5).toPandas()
    assert len(loose) == 1 and abs(loose.matched_chunk_frac.iloc[0] - 0.25) < 1e-9
    strict = aggregate_chunk_matches(
        pairs, sk, min_chunk_jaccard=0.5, min_chunk_frac=0.8
    ).toPandas()
    assert len(strict) == 0


def test_depth_dispersion_gate_survives_web_scale_depth_sums(spark):
    """Regression (r3 review): per-chunk depth sums past ~3.03e9 made
    the old bigint d*d (and total*total) overflow — a hard
    ARITHMETIC_OVERFLOW under Spark's default ANSI mode on realistic
    dense clusters (n_chunks x members x 1e6 quantized weight).  The
    decimal(38,0) aggregation must stay exact and the gate's verdicts
    unchanged.  Here ~3500 intra-cluster chunk matches per chunk push
    each depth sum to 3.5e9 (d^2 = 1.2e19 > int64 max)."""
    from kmcp_spark.operators.chunking import depth_dispersion_gate

    rows = [("a", c, f"b{i:04d}", c, 1.0) for c in (0, 1) for i in range(3500)]
    matched = spark.createDataFrame(
        rows, "a string, a_chunk int, b string, b_chunk int, chunk_jaccard double"
    )
    members = ["a"] + [f"b{i:04d}" for i in range(3500)]
    sketches = spark.createDataFrame(
        [(m, 2) for m in members], "clip_id string, n_chunks int"
    )
    labels = spark.createDataFrame(
        [(m, "a") for m in members], "clip_id string, cluster_id string"
    )
    out = depth_dispersion_gate(matched, sketches, labels).toPandas().set_index("clip_id")
    # clip a: depth 3.5e9 on BOTH chunks -> perfectly even -> passes
    assert out.loc["a", "depth_gate_passed"]
    assert out.loc["a", "rel_depth_std"] < 1e-9


def test_matched_spans_merges_overlapping_intervals(spark):
    """merge-regions analog: overlapping/adjacent matched chunk
    intervals collapse into islands; disjoint ones stay separate; the
    coverage fraction is merged-frames / target-frames."""
    import pandas as pd
    from kmcp_spark.operators.chunking import matched_spans

    # target clip B: chunks at [0,20) [15,35) [30,50) [60,80) [75,90)
    geo = pd.DataFrame(
        {
            "clip_id": ["B"] * 5 + ["C"],
            "chunk_idx": [0, 1, 2, 3, 4, 0],
            "start_frame": [0, 15, 30, 60, 75, 0],
            "end_frame": [20, 35, 50, 80, 90, 40],
        }
    )
    sk = spark.createDataFrame(geo)
    # A matches B's chunks 0,1,2 (one island 0-50), 3,4 (island 60-90);
    # A matches C's single chunk (trivial island)
    m = pd.DataFrame(
        {
            "a": ["A"] * 5 + ["A"],
            "b": ["B"] * 5 + ["C"],
            "b_chunk": [0, 1, 2, 3, 4, 0],
        }
    )
    out = (
        matched_spans(spark.createDataFrame(m), sk, min_overlap=1)
        .toPandas()
        .sort_values(["b", "span_start"])
        .reset_index(drop=True)
    )
    assert [tuple(r) for r in out[["b", "span_start", "span_end", "n_chunks_in_span"]].to_numpy()] == [
        ("B", 0, 50, 3),
        ("B", 60, 90, 2),
        ("C", 0, 40, 1),
    ]
    # B: (50-0)+(90-60) = 80 of 90 frames; C: 40 of 40
    covs = dict(zip(out["b"], out["coverage_frac"]))
    assert abs(covs["B"] - 80 / 90) < 1e-6 and covs["C"] == 1.0


def test_matched_spans_min_overlap_gate(spark):
    """With min_overlap above the actual overlap, touching intervals
    stay separate islands (kmcp's --min-overlap = k-1 semantics)."""
    import pandas as pd
    from kmcp_spark.operators.chunking import matched_spans

    geo = pd.DataFrame(
        {
            "clip_id": ["B", "B"],
            "chunk_idx": [0, 1],
            "start_frame": [0, 18],
            "end_frame": [20, 38],
        }
    )
    m = pd.DataFrame({"a": ["A", "A"], "b": ["B", "B"], "b_chunk": [0, 1]})
    # overlap is 2 frames: min_overlap=2 merges, min_overlap=3 splits
    merged = matched_spans(
        spark.createDataFrame(m), spark.createDataFrame(geo), min_overlap=2
    ).toPandas()
    assert len(merged) == 1 and merged.iloc[0]["span_end"] == 38
    split = matched_spans(
        spark.createDataFrame(m), spark.createDataFrame(geo), min_overlap=3
    ).toPandas()
    assert len(split) == 2
