"""The stream drain of a traced run: ``streaming_neardup_flags`` drains a
staged drop directory into an index that starts empty.  Per-micro-batch
figures come from ``StreamingQueryProgress`` and the status store; the
flags are checked against the planted truth by ``truth.check_flags``.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.dataset as ds

import spans

FILES_PER_BATCH = 8  # the stream's maxFilesPerTrigger


def drain(spark, tracer: spans.Tracer, drop: str, work: str) -> dict:
    """Drain ``drop`` once.  Returns the per-batch wall times, the
    ``stream.*`` per-layer figures and every flag written."""
    from kmcp_spark.streaming.dedup import streaming_neardup_flags

    base = os.path.join(work, "stream")
    index, flags = os.path.join(base, "index"), os.path.join(base, "flags")
    with tracer.span("stream.drain"):
        q = streaming_neardup_flags(spark, drop, index, flags, os.path.join(base, "ckpt"))
    prog = sorted((p for p in q.recentProgress if p.numInputRows > 0), key=lambda p: p.batchId)
    trig = [p.durationMs["triggerExecution"] / 1e3 for p in prog]
    add = [p.durationMs.get("addBatch", 0) / 1e3 for p in prog]
    n = len(prog)
    # the stream's jobs run under its own job group, the query's run id
    jobs = tracer.jobs(str(q.runId))
    tot = tracer.stage_totals(jobs)
    k = max(1, n // 10)
    layers = {
        "stream.add_batch_s": statistics.median(add),
        "stream.trigger_overhead_s": statistics.median(t - a for t, a in zip(trig, add)),
        "stream.early_batch_s": statistics.median(trig[:k]),
        "stream.late_batch_s": statistics.median(trig[-k:]),
        "stream.index_read_mb": tot["input_mb"] / n,
        "stream.shuffle_mb": tot["shuffle_mb"] / n,
        "stream.spark_jobs": len(jobs) / n,
        "stream.index_mb": spans.dir_mb(index) + spans.dir_mb(index + "_bands"),
    }
    found = ds.dataset(flags, format="parquet").to_table(columns=["a", "b"]).to_pandas()
    return {"batch_s": trig, "clips": sum(p.numInputRows for p in prog),
            "wall": tracer.walls("stream.drain"), "layers": layers, "flags": found}

