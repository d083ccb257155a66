"""Parallelism invariance: the north rule requires the pipeline to run
at N and 4N executors — which is only meaningful if the OUTPUT does not
depend on the parallelism.  Every kernel is written to be
partition-invariant (row-aligned chunking, exact integer math,
deterministic tie-breaks); this test drives the property end-to-end:
the same corpus through the full pipeline at two different input
partitionings AND shuffle-partition counts must yield exactly the same
cluster assignments."""

import pytest
from pyspark.sql import functions as F

from kmcp_spark.config import PipelineConfig
from kmcp_spark.corpus import generate_clips
from kmcp_spark.plans.pipeline import DedupPipeline


def _memberships(clusters) -> set[frozenset]:
    """Cluster contents as a canonical set of member-sets (cluster ids
    themselves are representative-based and already deterministic, but
    comparing member-sets makes the assertion label-agnostic)."""
    rows = clusters.select("clip_id", "cluster_id").collect()
    by_cluster: dict[str, set] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["clip_id"])
    return {frozenset(v) for v in by_cluster.values()}


@pytest.mark.parametrize("parts,shuffle", [(2, 4), (16, 32)])
def test_pipeline_output_invariant_to_parallelism(
    spark, tmp_path_factory, parts, shuffle, _shared={}
):
    clips, _ = generate_clips(spark, 160, min_dur_s=0.4, max_dur_s=0.9)
    clips = clips.repartition(parts).localCheckpoint(eager=True)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    try:
        out = str(tmp_path_factory.mktemp(f"par_{parts}"))
        res = DedupPipeline(spark, PipelineConfig(), out).run(clips)
        got = _memberships(res.clusters)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    n_multi = sum(1 for m in got if len(m) > 1)
    assert n_multi > 0  # the planted corpus must actually cluster
    if "memberships" in _shared:
        assert got == _shared["memberships"], (
            "cluster assignments changed with parallelism"
        )
    _shared["memberships"] = got


@pytest.fixture(scope="module")
def mixed_rate_parquet(tmp_path_factory):
    """40 clips of the default 8/16/44.1 kHz mix as two ~2 MB parquet
    files of 4-row row groups, so a 1 MB split cap cuts inside them."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kmcp_spark.corpus import make_rows

    pdf = make_rows(np.arange(40), min_dur_s=1.0, max_dur_s=3.0)
    assert pdf["sr_hz"].nunique() > 1
    pdf = pdf.drop(columns=["cluster_id", "transform"]).astype(
        {"sr_hz": "int32", "dur_ms": "int32"}
    )
    path = tmp_path_factory.mktemp("mixed_rate")
    for i, part in enumerate((pdf[:20], pdf[20:])):
        table = pa.Table.from_pandas(part, preserve_index=False)
        pq.write_table(table, path / f"part-{i}.parquet", row_group_size=4)
    return str(path)


def _sketches_under(spark, path, key, value):
    """Sketches of the clips at ``path`` with ``key`` set to ``value``
    (None: the session's own setting), and the scan's split count."""
    from kmcp_spark.corpus import CLIPS_SCHEMA
    from kmcp_spark.operators.sketch import sketch_clips

    old = spark.conf.get(key, None)
    if value is not None:
        spark.conf.set(key, value)
    try:
        clips = spark.read.schema(CLIPS_SCHEMA).parquet(path)
        n_splits = clips.rdd.getNumPartitions()
        sk = sketch_clips(clips, PipelineConfig()).localCheckpoint(eager=True)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    return sk, n_splits


@pytest.mark.parametrize(
    "key,a,b",
    [
        ("spark.sql.files.maxPartitionBytes", str(1024 * 1024), None),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "1", "256"),
    ],
    ids=["split-size", "arrow-batch"],
)
def test_sketches_invariant_to_split_and_batch_size(spark, mixed_rate_parquet, key, a, b):
    """Each clip's sketch depends on the clip alone: neither the scan's
    split size (1 MB vs the session default) nor the Arrow batch size
    (1 vs 256 rows) changes a row."""
    sk_a, splits_a = _sketches_under(spark, mixed_rate_parquet, key, a)
    sk_b, splits_b = _sketches_under(spark, mixed_rate_parquet, key, b)
    if key == "spark.sql.files.maxPartitionBytes":
        assert splits_a > splits_b
    assert sk_a.count() == sk_b.count() == 40
    assert sk_a.exceptAll(sk_b).isEmpty() and sk_b.exceptAll(sk_a).isEmpty()
