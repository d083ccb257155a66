"""End-to-end dedup pipeline: clips -> sketches -> buckets -> candidates
-> verified pairs -> clusters, with per-stage checkpoints + metrics.

Stage layout mirrors the reference's subcommand DAG
(compute → index → search → profile, SURVEY.md §3) with each stage a
durable checkpoint table keyed by the config fingerprint, so any stage
is resumable (north rule).  Metrics rows (stage, rows_in, rows_out,
wall_ms, fingerprint) are appended per stage — the resumability /
lineage bookkeeping analog of kmcp's `_info.txt` cache and search-log
stats (`kmcp/cmd/compute.go:450-458`, `kmcp/cmd/search.go:1011-1025`).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from kmcp_spark.config import PipelineConfig
from kmcp_spark.operators.cluster import (
    cluster_report,
    connected_components,
    reassign_by_support,  # noqa: F401 -- perfbench/spans.py traces this name
)
from kmcp_spark.operators.lsh import band_buckets, candidate_pairs
from kmcp_spark.operators.sketch import min_dur_gate, sketch_clips
from kmcp_spark.operators.verify import score_pairs, verify_pairs
from kmcp_spark.sources.tables import (
    checkpoint_valid,
    partition_lineage,
    read_checkpoint,
    write_checkpoint_data,
    write_checkpoint_marker,
)


@dataclass
class StageMetric:
    stage: str
    rows_out: int
    wall_ms: int
    resumed: bool


@dataclass
class PipelineResult:
    """Handles to the stage checkpoint tables.

    NOTE: these DataFrames are lazy readers over the checkpoint paths —
    a subsequent ``run()`` into the same ``out_dir`` with a *different*
    config fingerprint overwrites those paths and invalidates earlier
    handles.  Materialize (``.toPandas()``/``.count()``/re-write) before
    re-running with a new config.
    """

    clusters: DataFrame
    verified: DataFrame
    metrics: list[StageMetric] = field(default_factory=list)


class DedupPipeline:
    """Runs the staged plan; every stage skips itself when its checkpoint
    carries the current config fingerprint (resume-from-checkpoint)."""

    def __init__(self, spark: SparkSession, cfg: PipelineConfig, out_dir: str):
        import uuid

        self.spark = spark
        self.cfg = cfg
        self.out_dir = out_dir
        self.fp = cfg.fingerprint()
        # lineage.jsonl spans runs (append mode); the run id lets an
        # audit separate this run's records from a superseded run's at
        # the same path without relying on record order alone
        self.run_id = uuid.uuid4().hex[:8]
        self.metrics: list[StageMetric] = []
        os.makedirs(out_dir, exist_ok=True)

    def _stage(self, name: str, build) -> DataFrame:
        path = os.path.join(self.out_dir, name)
        t0 = time.time()
        if checkpoint_valid(path, self.fp):
            df = read_checkpoint(self.spark, path)
            self.metrics.append(StageMetric(name, -1, int((time.time() - t0) * 1000), True))
            return df
        df = build()
        write_checkpoint_data(df, path)
        # the schema is the one just written: inferring it back would be
        # one more Spark job (a footer read) and ~45 ms of driver time
        out = read_checkpoint(self.spark, path, schema=df.schema)
        # rows_out from parquet footers: a count() here was one whole
        # extra Spark job per stage (5 jobs/run of pure fixed latency).
        # The same footer walk yields the per-partition lineage records
        # (north rule: checkpoints carry per-partition lineage + metrics).
        files = partition_lineage(path)
        # iceberg checkpoints keep no local parquet files (the table's
        # own snapshot manifests are the lineage); fall back to one
        # count() job so stage metrics stay truthful instead of
        # silently recording rows_out=0
        n = sum(e["rows"] for e in files) if files else out.count()
        with open(os.path.join(self.out_dir, "lineage.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "stage": name,
                        "run_id": self.run_id,
                        "fingerprint": self.fp,
                        "n_files": len(files),
                        "rows_out": n,
                        "files": files,
                        "ts": time.time(),
                    }
                )
                + "\n"
            )
            f.flush()
            os.fsync(f.fileno())
        # the marker lands only AFTER the lineage record is durable, so
        # checkpoint_valid() => this stage's files are lineage-recorded
        # (a crash in between re-runs the stage; overwrite is idempotent)
        write_checkpoint_marker(path, self.fp)
        self.metrics.append(StageMetric(name, n, int((time.time() - t0) * 1000), False))
        return out

    def run(self, clips: DataFrame) -> PipelineResult:
        from kmcp_spark.runtime import persistent_ids, unpersist_ids

        cfg = self.cfg
        # every stage output is flushed to parquet, so ANY block persisted
        # during the run (virtual band relation, CC round checkpoints) is
        # releasable once the stages complete — swept at the end so a
        # long-lived session keeps a flat cache footprint across runs
        ids_at_entry = persistent_ids(self.spark.sparkContext)

        clips = min_dur_gate(clips, cfg)

        # exact-duplicate short-circuit (T0 / byte-identical): one JVM
        # hash-agg groups identical (bytes, transcript) rows; only one
        # representative per group flows through decode/sketch/LSH.  At
        # web scale exact dups are the dominant class — this removes
        # their decode cost AND keeps LSH bucket sizes bounded (a class
        # of 10^6 identical clips would otherwise pair-expand
        # quadratically; this is the degenerate case the max_bucket cap
        # would otherwise have to drop).
        def build_exact():
            # two independently-seeded xxhash64 passes = 128 bits of
            # content hash (birthday-safe at 10^12 rows) at ~10x the
            # throughput of md5 on the JVM
            return clips.selectExpr(
                "clip_id",
                "xxhash64(1, bytes, transcript) AS h1",
                "xxhash64(2, bytes, transcript) AS h2",
            ).selectExpr("clip_id", "min(clip_id) OVER (PARTITION BY h1, h2) AS rep_id")

        exact = self._stage("exact_groups", build_exact)
        reps = exact.where("clip_id = rep_id").select("clip_id")
        rep_clips = clips.join(reps, "clip_id", "left_semi")

        sketches = self._stage("sketches", lambda: sketch_clips(rep_clips, cfg))
        verified, oversized = near_dup_pairs(sketches, clips, cfg, stage=self._stage)
        if oversized is not None:
            # no silent caps: record exactly what was not expanded, as
            # counted by the candidates write (empty candidates leave an
            # empty observation and prove no bucket was escalated)
            cand = next(m for m in reversed(self.metrics) if m.stage == "candidates")
            n_over = oversized.get["n_oversized_buckets"] if cand.rows_out else 0
            over_path = os.path.join(self.out_dir, "oversized_buckets.json")
            if n_over:
                with open(over_path, "w") as f:
                    json.dump({"n_oversized_buckets": n_over, "max_bucket": cfg.lsh.max_bucket}, f)
            elif os.path.exists(over_path):
                # a rerun with a different config may no longer trip the
                # cap; a stale record would claim silent-cap accounting
                # that never happened this run
                os.remove(over_path)

        def build_clusters():
            # stage-3/stage-4 split of the reference profiler: weak-edge
            # pruning (MegaPath rule, `kmcp/cmd/profile.go:1357-1388`)
            # decides graph CONNECTIVITY so one borderline bridge cannot
            # over-merge two dense clusters; EM-style reassignment over
            # the UNPRUNED edges (`profile.go:2075-2117`) then decides
            # final MEMBERSHIP by dominant accumulated support
            labels_rep = connected_components(
                verified,
                all_nodes=sketches.select("clip_id"),
                max_iters=cfg.cc_max_iters,
                prune_alpha=cfg.cc_prune_alpha,
                em_iters=cfg.em_reassign_iters,
            )
            # expand representative labels back over their exact groups
            full = exact.join(
                labels_rep.selectExpr("clip_id AS rep_id", "cluster_id"), "rep_id"
            ).select("clip_id", "cluster_id")
            return cluster_report(full)

        clusters = self._stage("clusters", build_clusters)

        # sweep any blocks persisted during this run (e.g. the CC loop's
        # final label snapshot — superseded by the clusters checkpoint)
        unpersist_ids(
            self.spark.sparkContext,
            persistent_ids(self.spark.sparkContext) - ids_at_entry,
        )
        self._write_metrics()
        return PipelineResult(clusters=clusters, verified=verified, metrics=self.metrics)

    def _write_metrics(self) -> None:
        rows = [
            {
                "stage": m.stage,
                "rows_out": m.rows_out,
                "wall_ms": m.wall_ms,
                "resumed": m.resumed,
                "fingerprint": self.fp,
                "ts": time.time(),
            }
            for m in self.metrics
        ]
        with open(os.path.join(self.out_dir, "metrics.jsonl"), "a") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")


def near_dup_pairs(
    sketches: DataFrame,
    clips: DataFrame,
    cfg: PipelineConfig,
    stage=lambda name, build: build(),
    index: tuple[DataFrame, DataFrame] | None = None,
) -> tuple[DataFrame, Observation | None]:
    """sketches -> (verified pairs, oversized): THE near-dup chain
    ``band_buckets`` -> ``candidate_pairs`` -> ``score_pairs`` ->
    ``verify_pairs`` for every driver.

    ``stage(name, build)`` is the sink at the ``candidates`` and
    ``verified`` boundaries (a fingerprinted checkpoint in
    ``DedupPipeline``; lazy by default).  ``clips`` supplies transcripts
    for the LCS check.  ``index`` is the (bands, sketches) of earlier
    clips: their bands join the probe's, only pairs touching
    ``sketches`` are kept (the index's own pairs were found when it was
    built), and they are scored against sketches ∪ index.  Without an
    index the pass is a self-join, the same chain against an empty index.

    The band relation is never persisted: each consumer re-runs the
    narrow slice + xxhash64 map over the column-pruned sketches scan (a
    cached 32x-exploded band relation cannot fit memory at scale).
    ``oversized`` is ``candidate_pairs``' observation of the escalated
    bucket count, filled by the first action over the candidates (with
    ``DedupPipeline`` the checkpoint write; read it only if that wrote
    rows); None when ``stage`` resumed the candidates."""
    bands = band_buckets(sketches, cfg.lsh)
    sk_all = sketches
    if index is not None:
        index_bands, index_sketches = index
        bands = bands.unionByName(index_bands)
        sk_all = sketches.unionByName(index_sketches)
    oversized = None

    def build_candidates() -> DataFrame:
        nonlocal oversized
        pairs, oversized = candidate_pairs(bands, cfg.lsh.max_bucket)
        if index is None:
            return pairs
        nid = sketches.select("clip_id")
        return (
            pairs.join(nid.withColumnRenamed("clip_id", "a"), "a", "leftsemi")
            .unionByName(pairs.join(nid.withColumnRenamed("clip_id", "b"), "b", "leftsemi"))
            .dropDuplicates(["a", "b"])
        )

    candidates = stage("candidates", build_candidates)
    verified = stage(
        "verified", lambda: verify_pairs(score_pairs(candidates, sk_all, cfg), clips, cfg)
    )
    return verified, oversized


def dup_pairs_from_clusters(clusters: DataFrame) -> DataFrame:
    """clusters -> all intra-cluster pairs (a<b), for recall scoring."""
    m = clusters.filter(F.col("cluster_size") > 1).select("clip_id", "cluster_id")
    a = m.alias("x")
    b = m.alias("y")
    return (
        a.join(b, "cluster_id")
        .filter(F.col("x.clip_id") < F.col("y.clip_id"))
        .select(F.col("x.clip_id").alias("a"), F.col("y.clip_id").alias("b"))
    )
