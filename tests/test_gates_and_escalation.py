"""Round-2 pipeline hardening: F4 length gate, X9 FPR-derived band
floor, oversized-bucket escalation, weak-edge pruning, pointer-jumping
CC convergence, and the matched_chunk_frac fix."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kmcp_spark.config import LSHConfig, PipelineConfig, SketchConfig
from kmcp_spark.operators.cluster import connected_components, prune_weak_edges
from kmcp_spark.operators.lsh import band_buckets, bucket_pairs, candidate_pairs
from kmcp_spark.operators.verify import min_bands_for_fpr


# ------------------------------------------------------------- X9 FPR gate

def test_min_bands_for_fpr_defaults_and_monotonicity():
    # defaults (32 bands, r=4, null J=0.05): P[>=1 chance collision]
    # ~ 32 * 0.05^4 = 2e-4, under the default 1e-3 cap -> floor stays 1
    assert min_bands_for_fpr(32, 4, 0.05, 1e-3) == 1
    # tightening the cap can only raise the threshold
    ts = [min_bands_for_fpr(32, 4, 0.05, f) for f in (1e-2, 1e-4, 1e-12, 1e-20)]
    assert ts == sorted(ts) and ts[1] == 2 and ts[-1] > 2
    # a noisier null (higher per-band collision prob) raises it too
    assert min_bands_for_fpr(32, 1, 0.5, 1e-4) > 1


# ------------------------------------------------------------ F4 dur gate

def test_min_dur_gate_excludes_short_clips(spark, tmp_out):
    from kmcp_spark.corpus import make_rows
    from kmcp_spark.plans.pipeline import DedupPipeline

    pdf = make_rows(np.arange(20), min_dur_s=0.5, max_dur_s=1.0)
    clips = spark.createDataFrame(
        pdf.drop(columns=["cluster_id", "transform"])
    ).withColumn(
        "dur_ms",
        F.when(F.col("clip_id") == "clip_0000000001", F.lit(30)).otherwise(
            F.col("dur_ms")
        ),
    )
    res = DedupPipeline(spark, PipelineConfig(), tmp_out).run(clips)
    ids = {r.clip_id for r in res.clusters.select("clip_id").collect()}
    assert "clip_0000000001" not in ids and "clip_0000000000" in ids

    cfg_open = PipelineConfig(sketch=SketchConfig(min_dur_ms=0))
    res2 = DedupPipeline(spark, cfg_open, os.path.join(tmp_out, "open")).run(clips)
    ids2 = {r.clip_id for r in res2.clusters.select("clip_id").collect()}
    assert "clip_0000000001" in ids2


def test_pass_without_candidates_records_no_oversized_buckets(spark, tmp_out):
    """A pass whose candidates are empty (AQE then drops the stage that
    fills the oversized-bucket observation) completes and leaves no
    oversized-bucket record."""
    from kmcp_spark.corpus import make_rows
    from kmcp_spark.plans.pipeline import DedupPipeline

    # clip 1 is clip 0's only near-dup among these ids
    pdf = make_rows(np.delete(np.arange(20), 1), min_dur_s=0.5, max_dur_s=1.0)
    clips = spark.createDataFrame(pdf.drop(columns=["cluster_id", "transform"]))
    res = DedupPipeline(spark, PipelineConfig(), tmp_out).run(clips)
    assert {m.stage: m.rows_out for m in res.metrics}["candidates"] == 0
    assert not os.path.exists(os.path.join(tmp_out, "oversized_buckets.json"))


# ------------------------------------------------- oversized-bucket rescue

def _connected(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return len({find(n) for n in nodes}) == 1


def test_oversized_bucket_escalation_links_members(spark):
    """A bucket over max_bucket must emit anchor edges that keep its
    members in one connected component (kmcp escalates oversized blocks
    256->8->1 instead of dropping them, `kmcp/cmd/index.go:787-894`).
    It counts as ONE oversized bucket although its min anchor arrives
    twice (a streaming re-delivery): every bucket counts once."""
    members = [f"c{i:02d}" for i in range(12)]
    buckets = spark.createDataFrame(
        [(m, 0, 12345) for m in members + ["c00"]]
        + [("x1", 1, 777), ("x2", 1, 777)],
        "clip_id string, band_id int, band_hash bigint",
    )
    pairs, oversized = candidate_pairs(buckets, max_bucket=10)
    got = [(r.a, r.b) for r in pairs.collect()]
    assert oversized.get["n_oversized_buckets"] == 1
    # the small bucket still pair-expands fully
    assert ("x1", "x2") in got
    # escalated bucket: members form one connected component via anchors
    esc = [(a, b) for a, b in got if a.startswith("c")]
    assert len(esc) < 12 * 11 // 2  # NOT quadratic expansion
    assert _connected(esc, members)


def _cap_pairs(buckets, policy, cap):
    """Pair set of one bucket table under the drop or escalate policy."""
    if policy == "drop":
        pairs = bucket_pairs(buckets, cap)
    else:
        pairs, _ = candidate_pairs(buckets, cap)
    return {(r.a, r.b) for r in pairs.collect()}


def _one_bucket(spark, members):
    return spark.createDataFrame(
        [(m, 0, 4242) for m in members],
        "clip_id string, band_id int, band_hash bigint",
    )


@pytest.mark.parametrize("policy", ["drop", "escalate"])
def test_bucket_at_cap_expands_fully(spark, policy):
    """A bucket of exactly max_bucket members is within the cap: every
    i<j pair is emitted under both policies."""
    members = [f"m{i}" for i in range(5)]
    got = _cap_pairs(_one_bucket(spark, members), policy, cap=5)
    assert got == {(a, b) for i, a in enumerate(members) for b in members[i + 1:]}


@pytest.mark.parametrize("policy", ["drop", "escalate"])
def test_bucket_one_over_cap(spark, policy):
    """max_bucket + 1 members is over the cap: the drop policy emits
    nothing, escalation only the edges to the min/max anchors."""
    members = [f"m{i}" for i in range(6)]
    got = _cap_pairs(_one_bucket(spark, members), policy, cap=5)
    if policy == "drop":
        assert got == set()
    else:
        lo, hi = members[0], members[-1]
        assert got == {(lo, m) for m in members[1:]} | {(m, hi) for m in members[:-1]}
        assert len(got) == 2 * (len(members) - 1) - 1


def test_same_clip_chunks_never_pair(spark):
    """Chunks of one clip that share every bucket are not a candidate
    pair; each of them still pairs with the other clip's chunk, with
    the lower clip_id on the ``a`` side."""
    from kmcp_spark.operators.chunking import chunk_candidate_pairs

    sig = [11, 22, 33, 44]
    sk = spark.createDataFrame(
        [("B", 0, sig), ("A", 0, sig), ("A", 1, sig)],
        "clip_id string, chunk_idx int, minhash array<bigint>",
    )
    got = {
        (r.a, r.a_chunk, r.b, r.b_chunk): r.shared_bands
        for r in chunk_candidate_pairs(sk, bands=4, rows_per_band=1).collect()
    }
    assert got == {("A", 0, "B", 0): 4, ("A", 1, "B", 0): 4}


def test_pipeline_recall_with_giant_near_dup_class(spark, tmp_out):
    """Plant a near-dup (NOT byte-identical) class larger than max_bucket;
    escalation must still deliver dup-pair recall >= 0.99."""
    from kmcp_spark.corpus import _base_clip, _encode, make_rows
    from kmcp_spark.plans.pipeline import DedupPipeline, dup_pairs_from_clusters

    pcm, sr, codec, words, _ = _base_clip(42, 7_000_001, 0.5, 0.8)
    rows = []
    n_class = 20
    for i in range(n_class):
        g = 1.0 - 0.02 * i  # distinct gains -> distinct bytes, same tokens
        rows.append(
            {
                "clip_id": f"dup_{i:03d}",
                "bytes": _encode(pcm * g, sr, "wav"),
                "sr_hz": sr,
                "dur_ms": int(round(len(pcm) / sr * 1000)),
                "codec": "wav",
                "transcript": " ".join(words),
            }
        )
    others = make_rows(np.arange(20, 40), min_dur_s=0.5, max_dur_s=0.8).drop(
        columns=["cluster_id", "transform"]
    )
    clips = spark.createDataFrame(pd.concat([pd.DataFrame(rows), others]))
    cfg = PipelineConfig(lsh=LSHConfig(max_bucket=8))
    res = DedupPipeline(spark, cfg, tmp_out).run(clips)
    found = {
        (r.a, r.b)
        for r in dup_pairs_from_clusters(res.clusters).collect()
        if r.a.startswith("dup_")
    }
    want = {
        (f"dup_{i:03d}", f"dup_{j:03d}")
        for i in range(n_class)
        for j in range(i + 1, n_class)
    }
    recall = len(found & want) / len(want)
    assert recall >= 0.99, f"recall={recall}"


# ------------------------------------------------------- weak-edge pruning

def test_prune_weak_edges_drops_bridge_keeps_best(spark):
    edges = spark.createDataFrame(
        [
            ("a1", "a2", 1.0),
            ("a2", "a3", 0.95),
            ("b1", "b2", 1.0),
            ("a3", "b1", 0.3),   # weak bridge between two dense clusters
            ("c1", "c2", 0.2),   # isolated weak pair: each node's best
        ],
        "a string, b string, containment double",
    )
    kept = {(r.a, r.b) for r in prune_weak_edges(edges, alpha=0.5).collect()}
    assert ("a3", "b1") not in kept
    assert kept == {("a1", "a2"), ("a2", "a3"), ("b1", "b2"), ("c1", "c2")}
    # alpha=0 disables pruning
    assert prune_weak_edges(edges, alpha=0.0).count() == 5


def test_reassign_by_support_moves_to_dominant_cluster(spark):
    """EM-analog: a node whose kept edges landed it in cluster A but
    whose accumulated edge support is dominated by cluster B moves to B
    (kmcp profile stage-4 reassignment of multi-mapped reads)."""
    from kmcp_spark.operators.cluster import reassign_by_support

    labels = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("x", "a1"), ("b1", "b1"), ("b2", "b1")],
        "clip_id string, cluster_id string",
    )
    edges = spark.createDataFrame(
        [
            ("a1", "a2", 1.0),
            ("x", "a1", 0.3),   # weak tie into A
            ("x", "b1", 0.9),   # dominant support in B
            ("x", "b2", 0.9),
            ("b1", "b2", 1.0),
        ],
        "a string, b string, containment double",
    )
    out = {r.clip_id: r.cluster_id for r in reassign_by_support(labels, edges).collect()}
    assert out["x"] == "b1"
    # everyone else stays put (their dominant support is their own cluster)
    assert out["a1"] == "a1" and out["a2"] == "a1" and out["b1"] == "b1"


# ------------------------------------------- CC pointer-jump convergence

def test_cc_chain_converges_logarithmically(spark):
    """A 64-node chain needs ~63 one-hop rounds; pointer jumping must
    finish well inside 12.  (driver_max_edges=0 forces the distributed
    loop — the default would take the small-graph fast path.)"""
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)]
    pairs = spark.createDataFrame(chain, "a string, b string")
    labels = connected_components(pairs, max_iters=12, driver_max_edges=0)
    got = {r.cluster_id for r in labels.collect()}
    assert got == {"n000"}


def test_cc_raises_on_non_convergence(spark):
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)]
    pairs = spark.createDataFrame(chain, "a string, b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=2, driver_max_edges=0)


def test_cc_driver_and_loop_agree(spark):
    """The size-gated driver resolver and the distributed chain must
    produce identical clusterings on a messy random graph (multiple
    components, chains, a clique, singletons via all_nodes): plain CC,
    and weighted with weak-edge pruning plus one EM round."""
    import random

    rng = random.Random(7)
    edges = [(f"n{rng.randrange(60):03d}", f"n{rng.randrange(60):03d}") for _ in range(50)]
    edges = [(a, b) if a < b else (b, a) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "a string, b string")
    nodes = spark.createDataFrame(
        [(f"n{i:03d}",) for i in range(80)], "clip_id string"
    )
    fast = {
        (r.clip_id, r.cluster_id)
        for r in connected_components(pairs, all_nodes=nodes).collect()
    }
    loop = {
        (r.clip_id, r.cluster_id)
        for r in connected_components(
            pairs, all_nodes=nodes, driver_max_edges=0
        ).collect()
    }
    assert fast == loop and len(fast) == 80

    # dyadic weights: every support sum is exact, so the driver's
    # row-order sums and Spark's partition-order sums tie identically
    weighted = [(a, b, rng.choice((0.25, 0.5, 0.75, 1.0))) for a, b in edges]
    weighted += [
        # the bridge of test_prune_weak_edges_drops_bridge_keeps_best
        ("a1", "a2", 1.0),
        ("a2", "a3", 0.75),
        ("b1", "b2", 1.0),
        ("a3", "b1", 0.25),
        ("c1", "c2", 0.25),
        # the EM move of test_reassign_by_support_moves_to_dominant_cluster:
        # x's best edge keeps it with A, but five pruned edges into the
        # d-clique outweigh it (1.25 > 1.0)
        ("a1", "x", 1.0),
    ]
    ds = [f"d{i}" for i in range(5)]
    weighted += [(u, v, 1.0) for i, u in enumerate(ds) for v in ds[i + 1 :]]
    weighted += [(d, "x", 0.25) for d in ds]
    wpairs = spark.createDataFrame(weighted, "a string, b string, containment double")
    names = sorted({v for a, b, _ in weighted for v in (a, b)} | {f"n{i:03d}" for i in range(80)})
    wnodes = spark.createDataFrame([(v,) for v in names], "clip_id string")

    def resolve(**kw):
        out = connected_components(
            wpairs, all_nodes=wnodes, prune_alpha=0.5, em_iters=1, **kw
        )
        return {r.clip_id: r.cluster_id for r in out.collect()}

    fast, loop = resolve(), resolve(driver_max_edges=0)
    assert fast == loop and len(fast) == len(names)
    assert fast["a3"] == "a1" and fast["b1"] == fast["b2"] == "b1"
    assert fast["c1"] == fast["c2"] == "c1"
    assert fast["x"] == "d0"  # reassigned by support, not by connectivity


def test_cc_driver_labels_are_a_local_relation(spark):
    """The driver path's labels reach the JVM as a LocalRelation (no
    pickled Python RDD, so no Python-worker job to read them back), and
    a graph with zero pairs still labels every node by itself."""
    pairs = spark.range(3).selectExpr(
        "CAST(id AS STRING) AS a", "CAST(id + 1 AS STRING) AS b"
    )
    labels = connected_components(pairs)
    assert labels._jdf.queryExecution().logical().getClass().getSimpleName() == "LocalRelation"
    assert {r.clip_id: r.cluster_id for r in labels.collect()} == dict.fromkeys("0123", "0")

    nodes = spark.range(5).selectExpr("CAST(id AS STRING) AS clip_id")
    alone = connected_components(pairs.limit(0), all_nodes=nodes)
    assert "LogicalRDD" not in alone._jdf.queryExecution().optimizedPlan().toString()
    assert sorted((r.clip_id, r.cluster_id) for r in alone.collect()) == [
        (str(i), str(i)) for i in range(5)
    ]


# --------------------------------------------------- matched_chunk_frac

def test_matched_chunk_frac_counts_smaller_side(spark):
    """Short clip B (2 chunks) embedded in long clip A (4 chunks): three
    chunk matches touch 3 distinct A-chunks; the old numerator/denominator
    mix gave 3/2 = 1.5, the fraction of B's own matched chunks is 1.0."""
    from kmcp_spark.operators.chunking import aggregate_chunk_matches

    codes = [int(x) for x in range(20)]
    sk = spark.createDataFrame(
        [
            ("A", 0, codes, 20, 4),
            ("A", 1, codes, 20, 4),
            ("A", 2, codes, 20, 4),
            ("A", 3, codes, 20, 4),
            ("B", 0, codes, 20, 2),
            ("B", 1, codes, 20, 2),
        ],
        "clip_id string, chunk_idx int, codes array<bigint>, size bigint, n_chunks int",
    )
    pairs = spark.createDataFrame(
        [("A", 1, "B", 0, 3), ("A", 2, "B", 1, 3), ("A", 3, "B", 1, 3)],
        "a string, a_chunk int, b string, b_chunk int, shared_bands bigint",
    )
    out = aggregate_chunk_matches(pairs, sk, min_chunk_jaccard=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_matched_chunks == 3
    assert 0.0 < r.matched_chunk_frac <= 1.0
    assert abs(r.matched_chunk_frac - 1.0) < 1e-12


def test_duplicate_band_rows_emit_no_self_pairs(spark):
    """A clip_id delivered twice into the same bucket (streaming unions
    bands_new with prior band tables on a re-delivered clip) must not
    produce an (a,a) self-pair — the old self-join's strict
    l.clip_id < r.clip_id semantics."""
    buckets = spark.createDataFrame(
        [("c1", 0, 99), ("c1", 0, 99), ("c2", 0, 99)],
        "clip_id string, band_id int, band_hash bigint",
    )
    pairs, _ = candidate_pairs(buckets, max_bucket=10)
    got = {(r.a, r.b): r.shared_bands for r in pairs.collect()}
    assert all(a != b for a, b in got)
    # the real pair survives (counted twice: c1 appears in 2 band rows)
    assert ("c1", "c2") in got


def test_skew_cap_queries_fire_caps(spark):
    """The planted degenerate corpora must actually TRIP the caps: the
    hot-gram cap drops the boilerplate class's pairs, and the LSH bucket
    cap marks 64 oversized buckets whose escalation emits O(size) anchor
    edges, not O(size^2) expansion."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    caps = e.queries()["dedup_skew_caps"](spark, sf)
    agg = caps.agg(
        F.sum(F.col("dropped_by_cap").cast("int")).alias("n_dropped"),
        F.max("n_hot_grams").alias("n_hot"),
    ).first()
    assert agg.n_dropped == 60 * 59 // 2  # every hot-class pair dropped
    assert agg.n_hot == 38  # the boilerplate-internal grams

    skew = e.queries()["lsh_bucket_skew"](spark, sf).persist()
    assert skew.agg(F.max("n_oversized_buckets")).first()[0] == 64
    planted_esc = skew.filter(
        (F.col("path") == "escalate") & (F.col("a") >= 9_000_000) & (F.col("b") < 9_100_000)
    )
    # anchor escalation: 2*(60-1)-1 = 117 pairs, NOT C(60,2) = 1770
    assert planted_esc.count() == 117
    # drop path: the giant class contributes nothing
    assert (
        skew.filter(
            (F.col("path") == "drop") & (F.col("a") >= 9_000_000) & (F.col("b") < 9_100_000)
        ).count()
        == 0
    )
    skew.unpersist()
