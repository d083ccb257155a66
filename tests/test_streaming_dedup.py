"""Streaming incremental dedup: exact pass-through dedup state across
restarts, and micro-batch near-dup flagging against the growing sketch
index (cross-batch pairs must be found; no pair may be flagged twice)."""

import os

import numpy as np

from kmcp_spark.config import PipelineConfig
from kmcp_spark.corpus import CLIPS_SCHEMA, make_rows
from kmcp_spark.streaming.dedup import streaming_exact_dedup, streaming_neardup_flags


def _drop(spark, in_dir, ids):
    pdf = make_rows(np.array(ids), min_dur_s=0.5, max_dur_s=0.8)
    spark.createDataFrame(
        pdf.drop(columns=["cluster_id", "transform"]), schema=CLIPS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)


def test_streaming_exact_dedup_suppresses_reposts(spark, tmp_out):
    in_dir = os.path.join(tmp_out, "in")
    out_dir = os.path.join(tmp_out, "out")
    ckpt = os.path.join(tmp_out, "ckpt")
    os.makedirs(in_dir)

    _drop(spark, in_dir, range(20, 30))  # block 1: independent clips
    streaming_exact_dedup(spark, in_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 10

    # second drop: 5 byte-identical reposts (make_rows is deterministic
    # per id) + 5 genuinely new clips; state from the checkpoint must
    # suppress the reposts across the stream restart
    _drop(spark, in_dir, list(range(20, 25)) + list(range(60, 65)))
    streaming_exact_dedup(spark, in_dir, out_dir, ckpt)
    out = spark.read.parquet(out_dir)
    assert out.count() == 15
    assert out.select("clip_id").distinct().count() == 15


def test_streaming_neardup_flags_cross_batch(spark, tmp_out):
    in_dir = os.path.join(tmp_out, "in")
    index = os.path.join(tmp_out, "index")
    flags = os.path.join(tmp_out, "flags")
    ckpt = os.path.join(tmp_out, "ckpt")
    os.makedirs(in_dir)
    cfg = PipelineConfig()

    # block 2 plants a 4-member cluster: base id 40, members 41-43.
    # batch 1 carries ONLY the base (plus independent block-1 clips);
    # the members arrive in batch 2 — their dup pairs are cross-batch
    # and can only be found by probing the persisted index.
    _drop(spark, in_dir, [40] + list(range(20, 30)))
    streaming_neardup_flags(spark, in_dir, index, flags, ckpt, cfg)
    assert spark.read.parquet(index).count() == 11
    first = spark.read.parquet(flags).count()
    assert first == 0  # no pairs within batch 1

    _drop(spark, in_dir, [41, 42, 43])
    streaming_neardup_flags(spark, in_dir, index, flags, ckpt, cfg)
    assert spark.read.parquet(index).count() == 14
    got = {
        (r.a, r.b)
        for r in spark.read.parquet(flags).select("a", "b").collect()
    }
    members = [f"clip_{i:010d}" for i in (40, 41, 42, 43)]
    expected = {
        (a, b) for i, a in enumerate(members) for b in members[i + 1:]
    }
    assert got == expected, f"flags {got} != planted cluster pairs {expected}"

    # a third run with no new files must not re-flag anything
    streaming_neardup_flags(spark, in_dir, index, flags, ckpt, cfg)
    assert spark.read.parquet(flags).count() == len(expected)

    # F4 gate, as in the batch pipeline: a 30 ms copy of a planted
    # member is neither flagged nor indexed
    short = make_rows(np.array([41]), min_dur_s=0.5, max_dur_s=0.8).assign(
        clip_id="clip_short_41", dur_ms=30
    )
    spark.createDataFrame(
        short.drop(columns=["cluster_id", "transform"]), schema=CLIPS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    streaming_neardup_flags(spark, in_dir, index, flags, ckpt, cfg)
    assert spark.read.parquet(flags).count() == len(expected)
    assert spark.read.parquet(index).count() == 14


def test_flag_batch_replay_is_idempotent(spark, tmp_out):
    """foreachBatch is at-least-once: re-running a batch_id whose sinks
    committed must be a no-op (no duplicate flags or index rows)."""
    from kmcp_spark.streaming.dedup import _flag_batch

    in_dir = os.path.join(tmp_out, "in")
    index = os.path.join(tmp_out, "index")
    flags = os.path.join(tmp_out, "flags")
    os.makedirs(in_dir)
    cfg = PipelineConfig()

    ckpt = os.path.join(tmp_out, "ckpt")  # no metadata file -> sid "default"

    _drop(spark, in_dir, [40] + list(range(20, 30)))
    batch0 = spark.read.parquet(in_dir)
    _flag_batch(batch0, 0, index, flags, in_dir, cfg, ckpt)
    _drop(spark, in_dir, [41, 42, 43])
    batch1 = spark.read.parquet(in_dir).filter("clip_id > 'clip_0000000040'")
    _flag_batch(batch1, 1, index, flags, in_dir, cfg, ckpt)

    n_flags = spark.read.parquet(flags).count()
    n_index = spark.read.parquet(index).count()
    assert n_flags == 6 and n_index == 14

    # replay both batches (same lineage + batch_id): fully-committed -> no-op
    _flag_batch(batch0, 0, index, flags, in_dir, cfg, ckpt)
    _flag_batch(batch1, 1, index, flags, in_dir, cfg, ckpt)
    assert spark.read.parquet(flags).count() == n_flags
    assert spark.read.parquet(index).count() == n_index

    # the band table holds exactly one committed dir per (lineage, batch)
    # — prior batches are never re-banded
    bands = sorted(os.listdir(index + "_bands"))
    assert bands == ["batch_id=0__default", "batch_id=1__default"]

    # a NEW stream lineage (fresh checkpoint -> new sid) restarting at
    # batch_id 0 must NOT skip on the old lineage's commit: its clips
    # get indexed and flagged against the full prior history
    ckpt2 = os.path.join(tmp_out, "ckpt2")
    os.makedirs(ckpt2)
    with open(os.path.join(ckpt2, "metadata"), "w") as f:
        f.write('{"id": "aabbccdd-0000"}')
    _drop(spark, in_dir, [60])  # dup of clip 40's content? no — new clip
    batch0b = spark.read.parquet(in_dir).filter("clip_id > 'clip_0000000043'")
    _flag_batch(batch0b, 0, index, flags, in_dir, cfg, ckpt2)
    assert spark.read.parquet(index).count() == n_index + 1  # not swallowed
    assert sorted(os.listdir(index)) == [
        "batch_id=0__aabbccdd",
        "batch_id=0__default",
        "batch_id=1__default",
    ]


def test_new_lineage_over_same_drop_dir_adds_nothing(spark, tmp_out):
    """A new stream lineage (fresh checkpoint) re-delivers every file of
    the drop directory; clips the index already holds are dropped before
    sketching, so flags, bands and index stay as the first lineage left
    them."""
    in_dir = os.path.join(tmp_out, "in")
    index = os.path.join(tmp_out, "index")
    flags = os.path.join(tmp_out, "flags")
    os.makedirs(in_dir)
    cfg = PipelineConfig()
    _drop(spark, in_dir, list(range(40, 44)) + list(range(20, 26)))

    def state():
        return (
            sorted(spark.read.parquet(flags).collect()),
            sorted(spark.read.parquet(index + "_bands").collect()),
            sorted(r.clip_id for r in spark.read.parquet(index).select("clip_id").collect()),
        )

    streaming_neardup_flags(spark, in_dir, index, flags, os.path.join(tmp_out, "ckpt1"), cfg)
    first = state()
    assert len(first[0]) == 6  # the planted cluster 40-43, each pair once
    assert len(first[2]) == len(set(first[2])) == 10

    streaming_neardup_flags(spark, in_dir, index, flags, os.path.join(tmp_out, "ckpt2"), cfg)
    assert state() == first


def test_stream_id_not_cached_across_lineages(tmp_out):
    """Deleting a checkpoint and starting a new stream at the SAME path
    within one driver process must yield the new lineage's id — a
    path-keyed cache here silently swallowed the new stream's batch 0."""
    import shutil

    from kmcp_spark.streaming.dedup import _stream_id

    ckpt = os.path.join(tmp_out, "ckpt")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "metadata"), "w") as f:
        f.write('{"id": "11111111-aaaa"}')
    assert _stream_id(ckpt) == "11111111"
    shutil.rmtree(ckpt)
    # transient gap (metadata not yet written) must not pin 'default'
    os.makedirs(ckpt)
    assert _stream_id(ckpt) == "default"
    with open(os.path.join(ckpt, "metadata"), "w") as f:
        f.write('{"id": "22222222-bbbb"}')
    assert _stream_id(ckpt) == "22222222"


def test_streaming_exact_dedup_watermark_variant(spark, tmp_out):
    """Bounded-state variant: within the watermark horizon, reposts are
    suppressed exactly like the all-history default."""
    in_dir = os.path.join(tmp_out, "in")
    out_dir = os.path.join(tmp_out, "out")
    ckpt = os.path.join(tmp_out, "ckpt")
    os.makedirs(in_dir)

    _drop(spark, in_dir, range(20, 30))
    streaming_exact_dedup(spark, in_dir, out_dir, ckpt, watermark="1 hour")
    assert spark.read.parquet(out_dir).count() == 10

    _drop(spark, in_dir, list(range(20, 25)) + list(range(60, 65)))
    streaming_exact_dedup(spark, in_dir, out_dir, ckpt, watermark="1 hour")
    out = spark.read.parquet(out_dir)
    assert out.count() == 15
    assert out.select("clip_id").distinct().count() == 15
