"""Spectral landmark (constellation) matching over clips.

Two Spark stages re-express the Wang-2003 audio search pipeline:

1. ``clip_landmarks`` — one narrow ``mapInPandas`` pass: decode →
   canonical-rate resample → peak constellation → landmark hashes
   (functions/landmark.py).  The output table
   ``(clip_id, lhash, t_idx)`` IS the inverted index: at production
   scale it is written partitioned/bucketed by ``lhash`` (the COBS-style
   signature-index analog, SURVEY.md §1.4 — kmcp's index maps k-mer →
   posting list; ours maps landmark code → (clip, time) postings).

2. ``landmark_match_pairs`` — pure DataFrame ops, no Python in the hot
   path: hot-code cap (the O3 skew idiom shared with the gram cap,
   operators/dedup.py) → self-join on ``lhash`` → offset-histogram vote
   ``groupBy(a, b, Δt)`` → best offset per pair → threshold.  This is
   the matched-k-mer count per query-target of kmcp search
   (`kmcp/cmd/search.go:97`) with the offset vote supplying what the
   shingle/MinHash path cannot: TIME ALIGNMENT (a matching pair comes
   back with the frame offset that aligns the two recordings, so an
   excerpt embedded mid-stream is located, not just flagged).

Scale shape (10^12 clips): the join shuffles on ``lhash`` — a
high-cardinality mixed key — and the hot-code cap bounds every bucket,
so no reducer sees more than ``max_hash_clips`` postings per code; the
vote aggregation shuffles on (a, b), with map-side partial counts.  Two
bounded shuffles, zero driver collects.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kmcp_spark.config import SketchConfig
from kmcp_spark.functions.audio import decode_work_pcm
from kmcp_spark.functions.landmark import landmark_hashes
from kmcp_spark.runtime import drop_zip_finders

LANDMARK_SCHEMA = "clip_id string, lhash bigint, t_idx int"


def clip_landmarks(clips: DataFrame, **kernel_kwargs) -> DataFrame:
    """clips -> (clip_id, lhash, t_idx) landmark postings.

    Decode failures flow through as zero landmarks for the clip (the
    decode_ok=false contract of ``decode_work_pcm`` — a lossy/corrupt
    clip must never crash the task); clips are framed at the sketch
    stage's working rate (``SketchConfig.sr_work``) so cross-sample-rate
    duplicate pairs (FIXTURES.md T6) land on one frame geometry.
    """
    sr_work = SketchConfig().sr_work

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            ids: list[str] = []
            hs: list[np.ndarray] = []
            ts: list[np.ndarray] = []
            for cid, buf, sr, codec in zip(
                pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]
            ):
                pcm = decode_work_pcm(buf, codec, sr, sr_work)
                if pcm is None:
                    continue
                h, t = landmark_hashes(pcm, sr_work, **kernel_kwargs)
                if h.size:
                    ids.extend([cid] * h.size)
                    hs.append(h)
                    ts.append(t)
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    "clip_id": ids,
                    "lhash": np.concatenate(hs).view(np.int64),
                    "t_idx": np.concatenate(ts).astype(np.int32),
                }
            )

    cols = ["clip_id", "bytes", "sr_hz", "codec"]
    return clips.select(*cols).mapInPandas(run, schema=LANDMARK_SCHEMA)


def landmark_search(
    index_lm: DataFrame,
    query_lm: DataFrame,
    min_votes: int = 4,
    min_score: float = 0.3,
    max_hash_clips: int = 64,
) -> DataFrame:
    """Query-by-snippet search: probe the landmark index with query
    postings (the asymmetric `kmcp search` shape — query sketches vs a
    prebuilt index, `kmcp/cmd/search.go`, vs the all-pairs dedup shape
    of :func:`landmark_match_pairs`).

    Returns ``(query_id, clip_id, matched_landmarks, score,
    best_offset_frames)`` where ``best_offset_frames`` LOCATES the
    query inside the matched clip (frame index of the query's start —
    an excerpt cut at frame k of a clip comes back with offset k).

    ``score`` is the QUERY-RELATIVE vote fraction — best-offset votes
    over the query's posting count (Wang 2003 §D scores hits relative
    to what the query could maximally match; an absolute vote count
    cannot separate a short query's true hit from a long query's
    chance alignments — fixture measurement: chance scores ≤ 0.23
    while true-source hits score ≥ 0.41).  ``min_votes`` stays as a
    small absolute floor so a 3-landmark query can't score 1.0 off
    noise.

    The hot-code cap is computed on the INDEX side only: query
    postings are per-query-bounded already, and at production scale
    the cap relation is precomputed once with the index, not per
    search batch.
    """
    hot = (
        index_lm.groupBy("lhash")
        .agg(F.count_distinct("clip_id").alias("n_clips"))
        .filter(F.col("n_clips") <= max_hash_clips)
        .select("lhash")
    )
    ix = index_lm.join(hot, "lhash")
    q = query_lm.select(
        F.col("clip_id").alias("query_id"),
        "lhash",
        F.col("t_idx").alias("q_t"),
    )
    n_q = query_lm.groupBy(F.col("clip_id").alias("query_id")).agg(
        F.count("*").alias("n_q")
    )
    votes = (
        q.join(ix, "lhash")
        .groupBy(
            "query_id",
            "clip_id",
            (F.col("t_idx") - F.col("q_t")).alias("dt"),
        )
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id", "clip_id").orderBy(
        F.col("votes").desc(), F.col("dt").asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("votes") >= min_votes))
        .join(n_q, "query_id")
        .filter(F.col("votes") >= F.lit(min_score) * F.col("n_q"))
        .select(
            "query_id",
            "clip_id",
            F.col("votes").alias("matched_landmarks"),
            F.round(F.col("votes") / F.col("n_q"), 6).alias("score"),
            F.col("dt").alias("best_offset_frames"),
        )
    )


def landmark_match_pairs(
    landmarks: DataFrame,
    min_votes: int = 5,
    max_hash_clips: int = 64,
) -> DataFrame:
    """Landmark postings -> aligned match pairs.

    Returns ``(a, b, matched_landmarks, best_offset_frames)`` where
    ``matched_landmarks`` is the vote count at the single best frame
    offset (votes DESC, offset ASC tie-break — deterministic, mirrored
    verbatim by the SQL oracle) and a pair survives only when that
    count reaches ``min_votes`` (precision guard: unrelated clips can
    share a code, but not ``min_votes`` codes at ONE consistent offset).

    ``max_hash_clips`` drops codes appearing in more distinct clips
    (near-silence / ubiquitous tonal patterns — the degenerate-k-mer
    analog): an O3 skew cap, without which one viral code makes a
    quadratic bucket.
    """
    hot = (
        landmarks.groupBy("lhash")
        .agg(F.count_distinct("clip_id").alias("n_clips"))
        .filter(F.col("n_clips") <= max_hash_clips)
        .select("lhash")
    )
    lm = landmarks.join(hot, "lhash")
    x = lm.alias("x")
    y = lm.alias("y")
    votes = (
        x.join(y, "lhash")
        .filter(F.col("x.clip_id") < F.col("y.clip_id"))
        .groupBy(
            F.col("x.clip_id").alias("a"),
            F.col("y.clip_id").alias("b"),
            (F.col("y.t_idx") - F.col("x.t_idx")).alias("dt"),
        )
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("a", "b").orderBy(
        F.col("votes").desc(), F.col("dt").asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("votes") >= min_votes))
        .select(
            "a",
            "b",
            F.col("votes").alias("matched_landmarks"),
            F.col("dt").alias("best_offset_frames"),
        )
    )
