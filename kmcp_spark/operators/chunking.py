"""Clip chunking: the kmcp ``--split-number/--split-overlap`` analog.

kmcp splits each reference sequence into overlapping chunks, sketches
each chunk separately, indexes (name, chunkIdx, chunks), and scores /
filters per chunk — chunksFrac >= minFragsProp is a profile gate
(`kmcp/cmd/compute.go:682-727` split geometry, `kmcp/cmd/index.go:1092`
chunk packing, `kmcp/cmd/profile.go:1018-1099` chunk-fraction filter).

Audio analog: the spectral-token stream of a clip is split into
overlapping windows of ``chunk_sec`` seconds; each chunk gets its own
shingle set + MinHash signature.  Chunk-level LSH gives *localized*
matches: a short clip embedded in the middle of a long one collides
with the covering chunks at near-1.0 chunk Jaccard even when whole-clip
similarity is diluted.  Chunk matches then aggregate per clip pair
(max chunk containment + matched-chunk fraction — the qCov + chunksFrac
analogs).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from kmcp_spark.config import PipelineConfig
from kmcp_spark.functions.audio import select_shingles, spectral_tokens_batch
from kmcp_spark.functions.hashing import splitmix64
from kmcp_spark.functions.minhash import minhash_signatures
from kmcp_spark.operators.lsh import band_rows, bucket_pairs
from kmcp_spark.operators.sketch import _AUDIO_SALT, decode_batch
from kmcp_spark.runtime import drop_zip_finders

CHUNK_SKETCH_SCHEMA = (
    "clip_id string, chunk_idx int, n_chunks int, size bigint, "
    "start_frame int, end_frame int, "
    "codes array<bigint>, minhash array<bigint>, decode_ok boolean"
)


def _chunk_bounds(n_frames: int, chunk_frames: int, overlap_frames: int):
    """kmcp-style split geometry: fixed chunk length with overlap; the
    final chunk is anchored to the end so no frames are dropped
    (`kmcp/cmd/compute.go:682-701`)."""
    if n_frames <= chunk_frames:
        return [(0, n_frames)]
    step = max(chunk_frames - overlap_frames, 1)
    bounds = []
    s = 0
    while True:
        e = s + chunk_frames
        if e >= n_frames:
            bounds.append((n_frames - chunk_frames, n_frames))
            break
        bounds.append((s, e))
        s += step
    return bounds


def sketch_clips_chunked(
    clips: DataFrame,
    cfg: PipelineConfig,
    chunk_sec: float = 2.0,
    overlap_sec: float = 0.5,
) -> DataFrame:
    """clips -> one sketch row per (clip, chunk) over audio shingles."""
    sk = cfg.sketch
    frames_per_sec = 1000.0 / sk.hop_ms
    chunk_frames = max(int(chunk_sec * frames_per_sec), sk.audio_ngram)
    overlap_frames = int(overlap_sec * frames_per_sec)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            if not len(pdf):
                continue
            # the whole-clip sketch stage's decode and tokenizer, so
            # chunk matches also cross sample rates
            pcms, rates, oks = decode_batch(pdf, sk)
            toks = spectral_tokens_batch(
                pcms, rates, sk.frame_ms, sk.hop_ms, sk.n_bands, sk.quant_levels
            )
            ids: list[str] = []
            idxs: list[int] = []
            totals: list[int] = []
            starts: list[int] = []
            ends: list[int] = []
            chunk_oks: list[bool] = []
            sets: list[np.ndarray] = []
            for cid, tok, ok in zip(pdf["clip_id"].tolist(), toks, oks):
                bounds = _chunk_bounds(len(tok), chunk_frames, overlap_frames)
                for ci, (s, e) in enumerate(bounds):
                    h = select_shingles(
                        tok[s:e], sk.audio_ngram, sk.audio_select, sk.minimizer_w, sk.syncmer_s
                    )
                    ids.append(cid)
                    idxs.append(ci)
                    totals.append(len(bounds))
                    starts.append(s)
                    ends.append(e)
                    chunk_oks.append(ok)
                    sets.append(np.unique(splitmix64(h, seed=_AUDIO_SALT)))
            sig = minhash_signatures(sets, sk.num_perm, sk.master_seed)
            yield pd.DataFrame(
                {
                    "clip_id": ids,
                    "chunk_idx": np.array(idxs, dtype=np.int32),
                    "n_chunks": np.array(totals, dtype=np.int32),
                    "size": np.fromiter((len(s) for s in sets), dtype=np.int64, count=len(sets)),
                    "start_frame": np.array(starts, dtype=np.int32),
                    "end_frame": np.array(ends, dtype=np.int32),
                    "codes": [s.view(np.int64) for s in sets],
                    "minhash": list(sig.view(np.int64)),
                    "decode_ok": np.array(chunk_oks, dtype=bool),
                }
            )

    cols = ["clip_id", "bytes", "sr_hz", "codec"]
    return clips.select(*cols).mapInPandas(run, schema=CHUNK_SKETCH_SCHEMA)


def chunk_candidate_pairs(
    chunk_sketches: DataFrame, bands: int, rows_per_band: int, max_bucket: int = 2000
) -> DataFrame:
    """LSH over chunk entities -> chunk-level candidate pairs
    (a, a_chunk, b, b_chunk, shared_bands), different clips only.

    A chunk entity is the id ``struct(clip_id, chunk_idx)``, banded by
    ``lsh.band_rows`` and expanded by ``lsh.bucket_pairs`` (buckets above
    ``max_bucket`` dropped).  Struct ids order by clip_id first, so
    ``a < b`` by clip once same-clip pairs are filtered out."""
    chunks = chunk_sketches.select(
        F.struct("clip_id", "chunk_idx").alias("chunk"), "minhash"
    )
    pairs = bucket_pairs(
        band_rows(chunks, bands, rows_per_band, "chunk"), max_bucket, "chunk"
    )
    return pairs.filter(F.col("a.clip_id") != F.col("b.clip_id")).select(
        F.col("a.clip_id").alias("a"),
        F.col("a.chunk_idx").alias("a_chunk"),
        F.col("b.clip_id").alias("b"),
        F.col("b.chunk_idx").alias("b_chunk"),
        "shared_bands",
    )


def score_chunk_pairs(chunk_pairs: DataFrame, chunk_sketches: DataFrame) -> DataFrame:
    """Exact chunk-level scores for candidate chunk pairs: joins each
    side back to its code set and computes chunk Jaccard + containment
    JVM-side (shared by the per-clip-pair roll-up and the
    depth-dispersion gate)."""
    sk = chunk_sketches.select(
        "clip_id", "chunk_idx", "codes", "size", "n_chunks"
    )
    a = sk.alias("ca")
    b = sk.alias("cb")
    j = (
        chunk_pairs.join(
            a,
            (chunk_pairs["a"] == F.col("ca.clip_id"))
            & (chunk_pairs["a_chunk"] == F.col("ca.chunk_idx")),
        )
        .join(
            b,
            (chunk_pairs["b"] == F.col("cb.clip_id"))
            & (chunk_pairs["b_chunk"] == F.col("cb.chunk_idx")),
        )
    )
    inter = F.size(F.array_intersect(F.col("ca.codes"), F.col("cb.codes")))
    return j.select(
        "a",
        "b",
        "a_chunk",
        "b_chunk",
        (inter / F.greatest(F.col("ca.size") + F.col("cb.size") - inter, F.lit(1))).alias(
            "chunk_jaccard"
        ),
        (inter / F.greatest(F.least("ca.size", "cb.size"), F.lit(1))).alias(
            "chunk_containment"
        ),
        F.col("ca.n_chunks").alias("na_chunks"),
        F.col("cb.n_chunks").alias("nb_chunks"),
        F.least("ca.n_chunks", "cb.n_chunks").alias("min_n_chunks"),
    )


def aggregate_chunk_matches(
    chunk_pairs: DataFrame,
    chunk_sketches: DataFrame,
    min_chunk_jaccard: float = 0.5,
    min_chunk_frac: float = 0.0,
) -> DataFrame:
    """Score chunk pairs exactly and roll up per clip pair.

    Output per (a, b): best_chunk_jaccard / best_chunk_containment (the
    qCov analog), n_matched_chunks, matched_chunk_frac (the chunksFrac
    analog, `kmcp/cmd/profile.go:1018-1099` — fraction of the
    smaller clip's chunks with a matching partner).  ``min_chunk_frac``
    is the -p/--min-chunks-fraction gate (`kmcp/cmd/profile.go:3088`,
    preset per ProfileModeConfig): pairs whose matched fraction falls
    below it are dropped from the roll-up.
    """
    scored = score_chunk_pairs(chunk_pairs, chunk_sketches)
    matched = scored.filter(F.col("chunk_jaccard") >= min_chunk_jaccard)
    # chunksFrac counts the matched chunks OF THE SMALLER CLIP over that
    # same clip's chunk count (kmcp's chunksFrac is over the target's own
    # chunks, `kmcp/cmd/profile.go:1018-1099`), so it is always <= 1;
    # counting a's chunks over min(n_chunks) exceeded 1.0 whenever b was
    # the shorter, embedded clip — the motivating case
    small_side_chunk = F.when(
        F.col("na_chunks") <= F.col("nb_chunks"), F.col("a_chunk")
    ).otherwise(F.col("b_chunk"))
    rolled = matched.groupBy("a", "b").agg(
        F.max("chunk_jaccard").alias("best_chunk_jaccard"),
        F.max("chunk_containment").alias("best_chunk_containment"),
        F.countDistinct("a_chunk", "b_chunk").alias("n_matched_chunks"),
        (
            F.countDistinct(small_side_chunk) / F.min("min_n_chunks")
        ).alias("matched_chunk_frac"),
    )
    if min_chunk_frac > 0.0:
        rolled = rolled.filter(F.col("matched_chunk_frac") >= min_chunk_frac)
    return rolled


def depth_dispersion_gate(
    matched_chunk_pairs: DataFrame,
    chunk_sketches: DataFrame,
    labels: DataFrame,
    max_rel_depth_std: float = 2.0,
) -> DataFrame:
    """Per-member chunk-depth dispersion gate — the analog of kmcp
    profile's stage-3 ``chunksRelDepthStd`` filter
    (`kmcp/cmd/profile.go:1832-1841`: per-chunk depths are normalized to
    mean 1, ``RelDepth[i] = QLen[i]/Qlens*len(QLen)``, and targets with
    stdev above ``--max-chunks-depth-stdev``, default 2.0, are dropped;
    stdev via `kmcp/cmd/util.go:381-405`).

    Here a member's per-chunk depth is the summed chunk-Jaccard of its
    intra-cluster chunk matches (the accumulated-query-length analog);
    chunks with no match count as depth 0.  A genuine near-dup member is
    covered evenly (rel-depth stdev ~0); a false member attached through
    one shared segment concentrates all depth in one chunk, giving
    stdev ~sqrt(n_chunks - 1) — gated.

    Since mean(rel_depth) == 1 by construction, the population variance
    reduces to sum(rel_i^2)/n_chunks - 1, so unmatched chunks need no
    rows — one aggregate over matched chunk matches, no explode.

    Returns (clip_id, cluster_id, rel_depth_std, depth_gate_passed):
    failing members are RE-SINGLETONED (cluster_id = own clip_id),
    exactly like kmcp removing the target from the profile.  Members of
    single-member clusters and clips with <2 chunks pass trivially
    (dispersion is undefined there; kmcp likewise skips 1-chunk refs).
    """
    la = labels.select(F.col("clip_id").alias("a"), F.col("cluster_id").alias("_ca"))
    lb = labels.select(F.col("clip_id").alias("b"), F.col("cluster_id").alias("_cb"))
    intra = (
        matched_chunk_pairs.join(la, "a")
        .join(lb, "b")
        .filter(F.col("_ca") == F.col("_cb"))
    )
    # per (member clip, chunk) accumulated depth, both pair directions.
    # weights are quantized to int64 at 1e6 scale BEFORE summing so the
    # cross-row aggregate is exact integer math — bit-identical in any
    # engine/partitioning (double sums are fold-order-dependent in the
    # last ulp, which would make the gate nondeterministic at the
    # threshold boundary and break the SQL oracle)
    wq = F.round(F.col("chunk_jaccard") * 1_000_000).cast("long")
    depth = (
        intra.select(F.col("a").alias("clip_id"), F.col("a_chunk").alias("chunk_idx"),
                     wq.alias("w"))
        .unionByName(
            intra.select(F.col("b").alias("clip_id"), F.col("b_chunk").alias("chunk_idx"),
                         wq.alias("w"))
        )
        .groupBy("clip_id", "chunk_idx")
        .agg(F.sum("w").alias("d"))
    )
    nck = chunk_sketches.select("clip_id", "n_chunks").distinct()
    # the squared terms leave int64: d can reach ~3e9 on a realistic
    # dense cluster (n_chunks x members x 1e6), so d*d (and total^2)
    # would overflow bigint — a hard ARITHMETIC_OVERFLOW under Spark's
    # default ANSI mode.  decimal(38,0) keeps the aggregation EXACT
    # (d^2 < 2^126 ~ 8.5e37 fits; the sum would need ~1e13 chunks to
    # overflow), and only the final ratio drops to double — one
    # correctly-rounded division of exact integers, deterministic in
    # any engine (the DuckDB oracle mirrors with HUGEINT)
    dd = F.col("d").cast("decimal(38,0)")
    stats = (
        depth.groupBy("clip_id")
        .agg(F.sum(dd).alias("_total"), F.sum(dd * F.col("d")).alias("_sumsq"))
        .join(nck, "clip_id")
        .select(
            "clip_id",
            # rel_i = d_i/total*n; pop var = sum(rel_i^2)/n - 1
            F.sqrt(
                F.greatest(
                    F.col("_sumsq").cast("double")
                    / (F.col("_total").cast("double") * F.col("_total").cast("double"))
                    * F.col("n_chunks")
                    - F.lit(1.0),
                    F.lit(0.0),
                )
            ).alias("rel_depth_std"),
            "n_chunks",
        )
    )
    out = labels.join(stats, "clip_id", "left").select(
        "clip_id",
        "cluster_id",
        F.coalesce("rel_depth_std", F.lit(0.0)).alias("rel_depth_std"),
        (
            F.col("rel_depth_std").isNull()          # no intra-cluster matches -> singleton anyway
            | (F.col("n_chunks") < 2)                # dispersion undefined
            | (F.col("rel_depth_std") <= max_rel_depth_std)
        ).alias("depth_gate_passed"),
    )
    return out.select(
        "clip_id",
        F.when(F.col("depth_gate_passed"), F.col("cluster_id"))
        .otherwise(F.col("clip_id"))
        .alias("cluster_id"),
        F.round("rel_depth_std", 6).alias("rel_depth_std"),
        "depth_gate_passed",
    )


def matched_spans(
    matched_chunks: DataFrame,
    chunk_sketches: DataFrame,
    min_overlap: int = 1,
) -> DataFrame:
    """Merge each pair's matched chunk intervals into contiguous frame
    spans — the ``kmcp utils merge-regions`` analog
    (`kmcp/cmd/merge-regions.go:60-67`: overlapping matched regions from
    sliding-window search collapse into BED spans when they overlap by
    at least ``--min-overlap``).

    Here the "region" is a matched chunk of the TARGET clip ``b`` (the
    reference-side coordinate frame, like BED's chrom): each matched
    (a, b, b_chunk) row becomes the frame interval the chunk geometry
    assigned to ``b_chunk``, and per (a, b) the intervals are merged
    into islands whenever the next interval overlaps the running span
    by >= ``min_overlap`` frames.  Output: one row per contiguous span
    with its chunk count, plus the pair-level duplicated-coverage
    fraction (merged frames / target frames — "which part of this clip
    is duplicated, and how much of it").

    All JVM-side: the island assignment is the classic gaps-and-islands
    window plan (running max of ``end_frame`` per pair; a new island
    starts where ``start_frame`` clears the running max minus the
    overlap), then one groupBy — no UDF, SQL-mirrorable 1:1.
    """
    geo = chunk_sketches.select(
        F.col("clip_id").alias("b"),
        F.col("chunk_idx").alias("b_chunk"),
        "start_frame",
        "end_frame",
    )
    iv = (
        matched_chunks.select("a", "b", "b_chunk")
        .join(geo, ["b", "b_chunk"])
        .select("a", "b", "start_frame", "end_frame")
        .dropDuplicates()
    )
    w = Window.partitionBy("a", "b").orderBy("start_frame", "end_frame")
    prev_max = F.max("end_frame").over(w.rowsBetween(Window.unboundedPreceding, -1))
    with_isl = (
        iv.withColumn(
            "new_island",
            F.when(
                prev_max.isNull()
                | (F.col("start_frame") > prev_max - F.lit(min_overlap)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("new_island").over(w))
    )
    spans = with_isl.groupBy("a", "b", "island").agg(
        F.min("start_frame").alias("span_start"),
        F.max("end_frame").alias("span_end"),
        F.count("*").alias("n_chunks_in_span"),
    )
    # target frame extent: the chunk layout anchors the last chunk at the
    # clip end, so max(end_frame) over b's chunks IS its frame count
    b_frames = chunk_sketches.groupBy(F.col("clip_id").alias("b")).agg(
        F.max("end_frame").alias("b_frames")
    )
    wp = Window.partitionBy("a", "b")
    return (
        spans.join(b_frames, "b")
        .withColumn(
            "coverage_frac",
            F.sum(F.col("span_end") - F.col("span_start")).over(wp) / F.col("b_frames"),
        )
        .select(
            "a",
            "b",
            "span_start",
            "span_end",
            "n_chunks_in_span",
            F.round("coverage_frac", 6).alias("coverage_frac"),
        )
    )
