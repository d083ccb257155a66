"""Streaming incremental dedup: flag each arriving micro-batch against
a persistent sketch index (the streaming mapping of kmcp's
search-against-prebuilt-index model, `kmcp search` probing `kmcp index`
output — here the index is a parquet sketch table that grows by one
append per batch).

Two operators:

- ``streaming_exact_dedup``: stateful first-writer-wins pass-through —
  only the first clip with a given content hash is emitted.  Uses
  Spark's streaming ``dropDuplicates`` state store (RocksDB/HDFS-backed
  on a real cluster).  State is one tiny row per distinct content hash;
  for bounded state in an unbounded stream a production deployment sets
  a watermark + ``dropDuplicatesWithinWatermark`` — the all-history
  variant here matches the batch pipeline's semantics.
- ``streaming_neardup_flags``: ``foreachBatch`` micro-batch loop —
  sketch the batch, run the batch pipeline's own near-dup chain
  (``plans.pipeline.near_dup_pairs``) with the committed bands and
  sketches as its index: band-join batch ∪ index, keep candidate pairs
  touching the batch, score + verify (full parity: bucket cap, FPR band
  floor, domain gates, LCS verification), append flags, append the
  batch's bands and sketches to the index.  All state is
  external parquet — restart-safe via the stream checkpoint, nothing
  accumulates in executor memory.

Scale notes: per batch, candidate generation shuffles batch ∪ index
bands once; the index side's band rows come from a PERSISTED band table
(``<index_dir>_bands``) appended per batch, so prior batches are never
re-banded — per-batch map work scales with the batch, not the index.
The clip archive is re-read only for the transcripts of PLAUSIBLE pairs
(column-pruned scan; at scale the archive is partitioned by ingest date
so file pruning applies).

Restart safety: ``foreachBatch`` is at-least-once, so every sink write
is keyed by (stream id, batch_id) — one ``batch_id=N__<qid>`` directory
per batch, overwrite-per-batch, where ``<qid>`` is the stream's query
id from the checkpoint metadata.  A replayed batch (same checkpoint →
same qid, same batch_id) finds its committed directories (``_SUCCESS``
present) and skips them — flags and index rows appear exactly once no
matter where a failure lands between the three writes.  A NEW stream
lineage (fresh/deleted checkpoint → new qid) restarts batch ids at 0;
scoping the key by qid means its batch 0 neither skips on nor
overwrites the old lineage's ``batch_id=0`` data — old-lineage flags,
bands, and index rows remain part of the probed history, and the clips
it re-delivers that the index already holds are dropped before sketching.
Partially-written directories (no ``_SUCCESS``) are excluded from reads
and simply overwritten on replay.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from kmcp_spark.config import PipelineConfig
from kmcp_spark.corpus import CLIPS_SCHEMA
from kmcp_spark.operators.lsh import band_buckets
from kmcp_spark.operators.sketch import min_dur_gate, sketch_clips
from kmcp_spark.plans.pipeline import near_dup_pairs


def streaming_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    watermark: str | None = None,
):
    """Emit only the first clip per content hash (dual-seeded xxhash64,
    the exact-dup short-circuit of the batch pipeline as a stream).

    ``watermark`` (e.g. "24 hours") switches to the bounded-state
    production variant: ``dropDuplicatesWithinWatermark`` over an
    ingest-time column, so the state store holds only the watermark
    horizon instead of all history (reposts beyond the horizon are
    re-emitted — at 10^12-clip scale unbounded exact-dedup state is the
    batch pipeline's job; the stream's job is the recent horizon).
    Default (None) keeps all-history semantics, matching the batch
    pipeline exactly."""
    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    hashed = stream.withColumns(
        {
            "h1": F.xxhash64(F.lit(1), "bytes", "transcript"),
            "h2": F.xxhash64(F.lit(2), "bytes", "transcript"),
        }
    )
    if watermark:
        deduped = (
            hashed.withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", watermark)
            .dropDuplicatesWithinWatermark(["h1", "h2"])
            .drop("h1", "h2", "ingest_ts")
        )
    else:
        deduped = hashed.dropDuplicates(["h1", "h2"]).drop("h1", "h2")
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()


def _stream_id(checkpoint_dir: str) -> str:
    """The stream's stable query id (from the checkpoint's ``metadata``
    file Spark writes at stream start): identical across restarts with
    the same checkpoint, fresh for a new/deleted checkpoint.  This is
    the correct idempotency scope for batch ids — Spark restarts batch
    numbering at 0 per checkpoint lineage, so an unscoped ``batch_id=0``
    commit from an old lineage would silently swallow a new lineage's
    first batch.

    Deliberately NOT cached: the read is one tiny driver-side file per
    batch, and a cache keyed by path would keep serving a dead
    lineage's id after the checkpoint is deleted and a new stream
    started at the same path in the same driver process (or pin a
    'default' fallback from a transient read failure) — making the new
    lineage's batch 0 match the old lineage's committed dir and be
    silently skipped."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            return str(json.load(f)["id"])[:8]
    except (OSError, ValueError, KeyError):
        return "default"


def _batch_dirname(batch_id: int, sid: str) -> str:
    return f"batch_id={batch_id}__{sid}"


def _batch_path(root: str, batch_id: int, sid: str) -> str:
    return os.path.join(root, _batch_dirname(batch_id, sid))


def _is_committed(root: str, batch_id: int, sid: str) -> bool:
    return os.path.exists(os.path.join(_batch_path(root, batch_id, sid), "_SUCCESS"))


def _committed_paths(root: str, exclude_dirname: str) -> list[str]:
    """Committed batch subdirectories (this lineage's AND any prior
    lineage's), excluding the named current batch dir (a replayed batch
    must not read its own partial output)."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in sorted(os.listdir(root)):
        if not name.startswith("batch_id=") or name == exclude_dirname:
            continue
        if os.path.exists(os.path.join(root, name, "_SUCCESS")):
            out.append(os.path.join(root, name))
    return out


def _flag_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    flags_dir: str,
    archive_dir: str,
    cfg: PipelineConfig,
    checkpoint_dir: str,
) -> None:
    """One micro-batch: sketch, probe index, verify, write flags + index
    + band rows — each sink idempotent per (stream id, batch_id) (see
    module doc)."""
    spark = batch.sparkSession
    sid = _stream_id(checkpoint_dir)
    cur = _batch_dirname(batch_id, sid)
    bands_dir = index_dir + "_bands"
    flags_done = _is_committed(flags_dir, batch_id, sid)
    index_done = _is_committed(index_dir, batch_id, sid)
    bands_done = _is_committed(bands_dir, batch_id, sid)
    if flags_done and index_done and bands_done:
        return  # fully-committed replay (foreachBatch is at-least-once)
    prior_index = _committed_paths(index_dir, cur)
    if prior_index:
        # a new lineage over the same drop directory re-delivers every
        # clip; one already indexed would meet its own copy in batch ∪
        # index and re-flag all of its pairs
        indexed = spark.read.schema("clip_id string").parquet(*prior_index)
        batch = batch.join(indexed, "clip_id", "left_anti")
    sk_new = sketch_clips(min_dur_gate(batch, cfg), cfg).localCheckpoint(eager=True)
    bands_new = band_buckets(sk_new, cfg.lsh)
    if not flags_done:
        # prior batches' band rows come from the persisted band table —
        # the index is banded once, on arrival, never again.  Committed
        # band and index tables were written from relations of the same
        # schemas as bands_new / sk_new, so both reads take that schema
        # instead of inferring it (a Spark job per read).  The first
        # batch finds no index and takes the chain's self-join path
        prior_bands = _committed_paths(bands_dir, cur)
        index = (
            (
                spark.read.schema(bands_new.schema).parquet(*prior_bands),
                spark.read.schema(sk_new.schema).parquet(*prior_index),
            )
            if prior_bands and prior_index
            else None
        )
        # transcripts for the LCS stage come from the archive (all files
        # the stream has ever seen, incl. this batch) — column-pruned scan
        clips_hist = spark.read.schema(CLIPS_SCHEMA).parquet(archive_dir)
        flags, _ = near_dup_pairs(sk_new, clips_hist, cfg, index=index)
        flags.write.mode("overwrite").parquet(_batch_path(flags_dir, batch_id, sid))
    if not bands_done:
        bands_new.write.mode("overwrite").parquet(_batch_path(bands_dir, batch_id, sid))
    if not index_done:
        sk_new.write.mode("overwrite").parquet(_batch_path(index_dir, batch_id, sid))


def streaming_neardup_flags(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    flags_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    available_now: bool = True,
):
    """Start the incremental near-dup flagging stream.

    ``input_dir`` is both the drop directory and the clip archive;
    ``index_dir`` accumulates one sketch row per clip ever seen (band
    rows persist alongside in ``<index_dir>_bands``); ``flags_dir``
    accumulates verified dup pairs, each appearing exactly once (in the
    batch where its second member arrived) — guaranteed across restarts
    by the per-batch_id committed-directory protocol (module doc)."""
    cfg = cfg or PipelineConfig()
    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    writer = stream.writeStream.foreachBatch(
        lambda b, bid: _flag_batch(b, int(bid), index_dir, flags_dir, input_dir, cfg, checkpoint_dir)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()
