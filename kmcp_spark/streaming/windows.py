"""Late-data streaming operators over the event stream: event-time
windowed aggregation under a watermark, and a custom stateful
sessionizer built on ``applyInPandasWithState``.

These are the §2.9 late-data shapes the near-dup stream
(`streaming/dedup.py`) does not exercise: the reference processes
bounded batches (`kmcp compute` reads complete files,
`kmcp/cmd/compute.go:366`), so its analog of "late data" is a re-run —
Spark's watermark semantics are the streaming-native replacement, and
both operators here emit ONLY results the watermark has sealed, which
makes their availableNow-drained output deterministic and therefore
SQL-oracle-checkable:

* append-mode window aggregation emits a window once the watermark
  passes its end -> final output is exactly the windows with
  ``window_end <= max(ts) - delay``;
* the sessionizer emits a session once the watermark passes
  ``session_end + gap`` -> final output is exactly the batch
  sessionization restricted to watermark-sealed sessions.

Both rely on Spark running a trailing no-data micro-batch after the
last data batch (``spark.sql.streaming.noDataMicroBatches.enabled``,
default true) so the final watermark advance flushes eligible
state/windows under ``Trigger.AvailableNow``.

Replay-order contract: the input dir must be an EVENT-TIME-ORDERED
replay (files drained oldest-first, disorder bounded by the watermark
delay) — which is what a real stream is.  A randomly-scattered file
dump violates it: if the file holding the max timestamp drains first,
the watermark jumps to max-delay and every older row in later files is
dropped as late (correct watermark semantics, wrong replay).  Use
:func:`stage_ordered_replay` to write one.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from kmcp_spark.runtime import drop_zip_finders


def stage_ordered_replay(df: DataFrame, path: str, ts_col: str = "ts", n_files: int = 12) -> None:
    """Write ``df`` as an event-time-ordered stream replay.

    Range-partitions on the timestamp so file k holds the k-th time
    slice, then stamps strictly increasing mtimes in slice order —
    Spark's file stream source drains files oldest-mtime-first, so a
    ``maxFilesPerTrigger`` reader sees the data as an ordered log with
    disorder bounded by a single slice (which the watermark allowance
    must cover).  ``repartitionByRange`` samples range bounds; ties are
    irrelevant here because ordering only needs to hold ACROSS files.
    """
    import os
    import time as _time

    (
        df.repartitionByRange(n_files, F.col(ts_col))
        .sortWithinPartitions(ts_col)
        .write.parquet(path)
    )
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = _time.time() - len(parts) - 10
    for i, name in enumerate(parts):  # part index == range-partition index
        os.utime(os.path.join(path, name), (base + i, base + i))


def _quantized_mean(col):
    """Mean over 1e-6-quantized values: the long sum is exact, so the
    double result is bit-identical across engines (same contract as
    operators/relational.py::_qmean)."""
    q = F.sum(F.round(col * 1_000_000).cast("long"))
    return F.round(q / F.count("*") / 1_000_000.0, 6)


def streaming_hourly_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Hourly per-type event counts + quantized mean value, append mode.

    Append-mode windowed aggregation is the canonical watermark
    operator: a window's row is emitted exactly once, after the
    watermark (max observed event time minus ``watermark``) passes the
    window end — late events inside the allowance are aggregated,
    later ones are dropped, and still-open windows are withheld.  For
    an event-time-ordered replay (see ``stage_ordered_replay``) the
    ``availableNow`` drain is therefore the deterministic set of sealed
    windows, independent of how the ordered files group into
    micro-batches.
    """
    schema = spark.read.parquet(input_dir).schema
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        # NTZ -> instant under the session's UTC timezone: watermarks
        # are defined on TIMESTAMP only
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _quantized_mean(F.col("value")).alias("mean_value"),
        )
        .select(
            F.col("w.start").cast("timestamp").cast("long").alias("hour_epoch"),
            "event_type",
            "n_events",
            "mean_value",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()


# state: parallel arrays of open sessions, oldest first
_SESS_STATE = "starts array<long>, ends array<long>, ns array<long>, sums array<long>"
_SESS_OUT = (
    "user_id long, session_start long, session_end long, "
    "n_events long, mean_value double"
)


def _merge_sessions(rows: list[tuple[int, int, int, int]], gap_s: int):
    """Merge (start, end, n, qsum) intervals under the gap rule.

    Input may interleave open sessions from state with new events (as
    width-0 intervals); output is the minimal sorted session list.
    Pure function so the gap semantics are unit-testable without a
    stream."""
    out: list[list[int]] = []
    for s, e, n, q in sorted(rows):
        if out and s - out[-1][1] <= gap_s:
            out[-1][1] = max(out[-1][1], e)
            out[-1][2] += n
            out[-1][3] += q
        else:
            out.append([s, e, n, q])
    return out


def streaming_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_s: int = 1800,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 4,
    available_now: bool = True,
):
    """Custom stateful sessionization via ``applyInPandasWithState``.

    Per user, open sessions live in state as interval arrays; each
    micro-batch merges its (Arrow-batched) events into them under the
    gap rule, then emits every session the watermark has sealed —
    ``(session_end + gap) * 1000 < current watermark ms`` guarantees no
    future event can extend it, because rows older than the watermark
    are dropped before the function runs.  Event-time timeouts flush
    remaining sealed sessions when a later batch (or the trailing
    no-data batch) advances the watermark without delivering rows for
    the user.

    This is the repo's ``applyInPandasWithState`` surface: session
    merge happens on Arrow-batched pandas frames (no per-row Python in
    the Spark sense — one call per user per batch), state is a compact
    struct of long arrays, and the operator's emitted set equals the
    batch sessionization (operators/relational.py::events_sessionize)
    restricted to sealed sessions — which is what the oracle checks.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = spark.read.parquet(input_dir).schema

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        drop_zip_finders()
        if state.exists:
            (starts, ends, ns, qs) = state.get
            sessions = [list(t) for t in zip(starts, ends, ns, qs)]
        else:
            sessions = []
        if not state.hasTimedOut:
            for pdf in pdfs:
                te = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
                qv = (pdf["value"] * 1_000_000).round().astype("int64").to_numpy()
                sessions.extend([int(t), int(t), 1, int(q)] for t, q in zip(te, qv))
        else:
            # timeout invocations receive no rows; drain the iterator
            # anyway per the API contract
            for _ in pdfs:
                pass
        sessions = _merge_sessions([tuple(s) for s in sessions], gap_s)
        wm_ms = state.getCurrentWatermarkMs()
        sealed = [s for s in sessions if (s[1] + gap_s) * 1000 < wm_ms]
        open_ = [s for s in sessions if (s[1] + gap_s) * 1000 >= wm_ms]
        if open_:
            state.update((
                [s[0] for s in open_],
                [s[1] for s in open_],
                [s[2] for s in open_],
                [s[3] for s in open_],
            ))
            state.setTimeoutTimestamp(min((s[1] + gap_s) * 1000 for s in open_) + 1)
        elif state.exists:
            state.remove()
        if sealed:
            import math

            # half-away-from-zero at 6 dp: Python's round() is
            # half-even, but the SQL oracles (DuckDB round, Spark
            # F.round) round halves away from zero
            r6 = lambda x: math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(sealed),
                    "session_start": [s[0] for s in sealed],
                    "session_end": [s[1] for s in sealed],
                    "n_events": [s[2] for s in sealed],
                    "mean_value": [r6(s[3] / s[2] / 1e6) for s in sealed],
                }
            )

    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, _SESS_OUT, _SESS_STATE, "append", GroupStateTimeout.EventTimeTimeout
        )
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()
