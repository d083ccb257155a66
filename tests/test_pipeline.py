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


def _assert_same_rows(got, want):
    assert got.schema == want.schema
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_resume_skips_all_stages(spark, corpus, result):
    res, out = result
    clips, _ = corpus
    res2 = DedupPipeline(spark, PipelineConfig(), out).run(clips)
    assert all(m.resumed for m in res2.metrics)
    # a resumed stage infers its checkpoint's schema; the first run read
    # the same files back with the schema it wrote
    _assert_same_rows(res2.clusters, res.clusters)
    _assert_same_rows(res2.verified, res.verified)


@pytest.fixture(scope="module")
def counted_run(spark, corpus, tmp_path_factory):
    """One pass in a fresh directory under its own Spark job group,
    recording the schema each stage's checkpoint is read back with."""
    import kmcp_spark.plans.pipeline as P

    out = str(tmp_path_factory.mktemp("pipe_jobs"))
    clips, _ = corpus
    read_with = {}
    orig = P.read_checkpoint

    def recording_read(spark_, path, *a, **k):
        read_with[path] = k.get("schema")
        return orig(spark_, path, *a, **k)

    sc = spark.sparkContext
    group = "test_pipeline_job_budget"
    P.read_checkpoint = recording_read
    sc.setJobGroup(group, group)
    try:
        DedupPipeline(spark, PipelineConfig(), out).run(clips)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        P.read_checkpoint = orig
    return read_with, len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_read_with_known_schema_matches_inference(spark, counted_run):
    """Reading a stage back with the schema it was written with gives
    the schema and rows that parquet inference gives."""
    import os

    from kmcp_spark.sources.tables import read_checkpoint

    read_with, _ = counted_run
    stages = {"exact_groups", "sketches", "candidates", "verified", "clusters"}
    assert {os.path.basename(p) for p in read_with} == stages
    for path, schema in read_with.items():
        assert schema is not None, path
        _assert_same_rows(
            read_checkpoint(spark, path, schema=schema), read_checkpoint(spark, path)
        )


def test_pass_spark_job_budget(counted_run):
    """One pass on the 240-clip corpus stays within 17 Spark jobs: a
    re-added schema inference or count job per stage, or a cache built
    beside the candidates write, breaks this."""
    _, n_jobs = counted_run
    assert 0 < n_jobs <= 17, n_jobs


def test_warm_pass_compiles_no_code(spark, corpus, tmp_path_factory):
    """The session's codegen cache holds every class one pass generates,
    so an identical second pass compiles none (about 50 did at the
    default 100-entry cache)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    clips, _ = corpus
    compiled = []
    for i in range(2):
        out = str(tmp_path_factory.mktemp(f"pipe_warm{i}"))
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        DedupPipeline(spark, PipelineConfig(), out).run(clips)
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[1] == 0, compiled


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


def test_oversized_record_counts_escalated_buckets(spark, corpus, tmp_path_factory):
    """No silent caps: a pass under a small bucket cap records exactly
    the buckets that a groupBy over its band relation finds above the
    cap, and a rerun under the default cap (a new fingerprint, nothing
    escalated) removes the stale record."""
    import json
    import os

    from kmcp_spark.config import LSHConfig
    from kmcp_spark.operators.lsh import band_buckets
    from kmcp_spark.sources.tables import read_checkpoint

    out = str(tmp_path_factory.mktemp("pipe_over"))
    record = os.path.join(out, "oversized_buckets.json")
    clips, _ = corpus
    cfg = PipelineConfig(lsh=LSHConfig(max_bucket=3))
    DedupPipeline(spark, cfg, out).run(clips)
    sketches = read_checkpoint(spark, os.path.join(out, "sketches"))
    want = (
        band_buckets(sketches, cfg.lsh)
        .groupBy("band_id", "band_hash")
        .count()
        .where("count > 3")
        .count()
    )
    assert want > 0
    with open(record) as f:
        assert json.load(f) == {"n_oversized_buckets": want, "max_bucket": 3}

    DedupPipeline(spark, PipelineConfig(), out).run(clips)
    assert not os.path.exists(record)


@pytest.mark.parametrize("domain_bands", [0, 4], ids=["combined", "domain-bands"])
def test_near_dup_pairs_index_probe_equals_self_join(spark, domain_bands):
    """A probe of new sketches against an index of earlier ones finds
    exactly the self-join's pairs that touch the new clips, scores
    included: a batch pass is a probe against an empty index."""
    from dataclasses import replace

    from kmcp_spark.corpus import CLIPS_SCHEMA
    from kmcp_spark.operators.lsh import band_buckets
    from kmcp_spark.plans.pipeline import near_dup_pairs

    cfg = PipelineConfig()
    cfg = replace(
        cfg,
        sketch=replace(cfg.sketch, domain_perm=16 * (domain_bands > 0)),
        lsh=replace(cfg.lsh, domain_bands=domain_bands),
    )
    # ids 40-43 are one planted cluster (base 40); 20-29 are independent.
    # The cluster is split: 40 and 41 sit in the index, 42 and 43 arrive
    # with the new rows, so the probe must find new-new and new-index
    # pairs and must not re-emit the index-only pair (40, 41).
    old_ids = [40, 41] + list(range(20, 26))
    new_ids = [42, 43] + list(range(26, 30))
    pdf = make_rows(np.array(old_ids + new_ids), min_dur_s=0.5, max_dur_s=0.8)
    clips = spark.createDataFrame(
        pdf.drop(columns=["cluster_id", "transform"]), schema=CLIPS_SCHEMA
    )
    sk = sketch_clips(clips, cfg).localCheckpoint(eager=True)
    new = {f"clip_{i:010d}" for i in new_ids}
    is_new = F.col("clip_id").isin(sorted(new))
    sk_old, sk_new = sk.where(~is_new), sk.where(is_new)

    got, _ = near_dup_pairs(sk_new, clips, cfg, index=(band_buckets(sk_old, cfg.lsh), sk_old))
    want, _ = near_dup_pairs(sk, clips, cfg)
    full = want.collect()
    got_rows = sorted(got.collect())
    assert got_rows == sorted(r for r in full if r.a in new or r.b in new)
    m = [f"clip_{i:010d}" for i in (40, 41, 42, 43)]
    assert (m[0], m[1]) in {(r.a, r.b) for r in full}
    assert {(r.a, r.b) for r in got_rows} == {
        (a, b) for i, a in enumerate(m) for b in m[i + 1 :]
    } - {(m[0], m[1])}
