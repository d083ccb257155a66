"""CLI with kmcp's subcommand surface, so a reference user can switch
tool-for-tool (`kmcp compute/index/search/profile/merge`, SURVEY.md §3):

    python -m kmcp_spark compute --input clips.parquet --out-dir sk/
    python -m kmcp_spark index   --sketches sk/ --out-dir idx/
    python -m kmcp_spark search  --query q.parquet --index idx/ \
                                 --sketches sk/ --out-dir hits/ [--top 5]
    python -m kmcp_spark profile --matches hits/ --sketches sk/ --out-dir prof/
    python -m kmcp_spark merge   --inputs sk1/ sk2/ ... --out-dir sk/
    python -m kmcp_spark dedup   --input clips.parquet --out-dir out/

Mapping to the reference subcommands:
  compute → sketch stage (`kmcp/cmd/compute.go`): clips → sketch table.
  index   → materialized band-bucket table (`kmcp/cmd/index.go`): the
            `.uniki` analog a search can probe without re-banding.
  search  → probe queries against the index (`kmcp/cmd/search.go`):
            band-join, per-pair shared-bands vote, FPR floor
            (`util-db-search.go:7466-7493`), qCov/tCov/Jaccard scoring,
            cov→similarity%% cubic, optional top-N per query.
  profile → resolve matches into clusters (`kmcp/cmd/profile.go`):
            weak-edge pruning → connected components → EM reassignment
            → cluster report + formatted report files.
  merge   → union sketch shards (`kmcp/cmd/utils-*` U1/U2 analog),
            first-writer-wins per clip_id.
  dedup   → the whole staged pipeline end-to-end (no kmcp equivalent
            single command; == compute|index|search|profile piped).

Every subcommand reads/writes parquet directories — the same tables the
library API uses — and prints one JSON summary line to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

if __package__ in (None, ""):
    # executed as a script (the spark-submit primary file): put the
    # package's parent on the path so `import kmcp_spark` resolves even
    # without --py-files (local runs)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kmcp_spark.config import PipelineConfig, VerifyConfig, get_spark


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def cmd_compute(args) -> dict:
    from kmcp_spark.operators.sketch import min_dur_gate, sketch_clips

    spark = get_spark(app="kmcp_compute", cores=args.cores)
    cfg = PipelineConfig()
    clips = min_dur_gate(spark.read.parquet(args.input), cfg)
    _write(sketch_clips(clips, cfg), args.out_dir)
    from kmcp_spark.sources.tables import checkpoint_rows

    return {"cmd": "compute", "out": args.out_dir, "rows": checkpoint_rows(args.out_dir)}


def cmd_index(args) -> dict:
    from kmcp_spark.operators.lsh import band_buckets
    from kmcp_spark.sources.tables import checkpoint_rows

    spark = get_spark(app="kmcp_index", cores=args.cores)
    cfg = PipelineConfig()
    sk = spark.read.parquet(args.sketches)
    _write(band_buckets(sk, cfg.lsh), args.out_dir)
    return {"cmd": "index", "out": args.out_dir, "rows": checkpoint_rows(args.out_dir)}


def cmd_search(args) -> dict:
    from kmcp_spark.operators.lsh import band_buckets
    from kmcp_spark.operators.sketch import min_dur_gate, sketch_clips
    from kmcp_spark.operators.verify import score_pairs, shared_bands_floor
    from kmcp_spark.sources.tables import checkpoint_rows

    spark = get_spark(app="kmcp_search", cores=args.cores)
    cfg = PipelineConfig()
    q_clips = min_dur_gate(spark.read.parquet(args.query), cfg)
    q_sk = sketch_clips(q_clips, cfg)
    q_bands = band_buckets(q_sk, cfg.lsh).select(
        F.col("clip_id").alias("a"), "band_id", "band_hash"
    )
    idx = spark.read.parquet(args.index).select(
        F.col("clip_id").alias("b"), "band_id", "band_hash"
    )
    pairs = (
        q_bands.join(idx, ["band_id", "band_hash"])
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared_bands"))
    )
    sk_all = q_sk.unionByName(spark.read.parquet(args.sketches)).dropDuplicates(
        ["clip_id"]
    )
    scored = score_pairs(pairs, sk_all, cfg)
    floor = shared_bands_floor(cfg)
    hits = scored.filter(F.col("shared_bands") >= floor)
    if args.top:
        from pyspark.sql import Window

        w = Window.partitionBy("a").orderBy(F.desc("containment"), F.asc("b"))
        hits = (
            hits.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= args.top)
            .drop("_rn")
        )
    _write(hits.withColumnRenamed("a", "query_id").withColumnRenamed("b", "target_id"),
           args.out_dir)
    return {"cmd": "search", "out": args.out_dir, "rows": checkpoint_rows(args.out_dir),
            "min_shared_bands": floor}


def cmd_profile(args) -> dict:
    from kmcp_spark.operators.cluster import cluster_report, connected_components
    from kmcp_spark.operators.report import write_reports
    from kmcp_spark.sources.tables import checkpoint_rows

    from kmcp_spark.config import profile_mode

    spark = get_spark(app="kmcp_profile", cores=args.cores)
    cfg = PipelineConfig()
    mode = profile_mode(getattr(args, "mode", 3))
    matches = spark.read.parquet(args.matches)
    if "query_id" in matches.columns:  # accept `search` output verbatim
        matches = matches.withColumnRenamed("query_id", "a").withColumnRenamed(
            "target_id", "b"
        )
    # -m preset gates (`kmcp/cmd/profile.go:230-326`): qCov floor, and
    # the keep-main-matches absolute score-gap filter (profile.go:896:
    # drop when best_qcov - qcov > maxScoreGap)
    matches = matches.filter(F.col("containment") >= mode.min_qcov)
    if mode.keep_main_match:
        from pyspark.sql import Window

        w = Window.partitionBy("a")
        matches = (
            matches.withColumn("_best", F.max("containment").over(w))
            .filter(F.col("containment") >= F.col("_best") - mode.max_score_gap)
            .drop("_best")
        )
    sk = spark.read.parquet(args.sketches)
    drop = tuple(getattr(args, "drop_class", None) or ())
    if drop:
        # discordance policy before resolution (operators/discordance):
        # e.g. --drop-class rerecording keeps each re-recording its own
        # cluster while label noise and ordinary duplicates merge.
        # Applied before the resolver, so it filters BOTH the CC edges
        # and the EM support relation — a dropped edge must not pull its
        # endpoint back in reassignment
        from kmcp_spark.operators.discordance import filter_edges

        matches = filter_edges(matches, drop=drop)
    labels = connected_components(
        matches,
        all_nodes=sk.select("clip_id"),
        max_iters=cfg.cc_max_iters,
        prune_alpha=cfg.cc_prune_alpha,
        em_iters=cfg.em_reassign_iters,
    )
    clusters = cluster_report(labels)
    _write(clusters, args.out_dir + "/clusters")
    paths = write_reports(args.out_dir, clusters, matches)
    return {"cmd": "profile", "out": args.out_dir, "mode": mode.mode,
            "clusters_rows": checkpoint_rows(args.out_dir + "/clusters"),
            "reports": sorted(paths)}


def cmd_merge(args) -> dict:
    from kmcp_spark.sources.tables import checkpoint_rows

    spark = get_spark(app="kmcp_merge", cores=args.cores)
    df = spark.read.parquet(args.inputs[0])
    for p in args.inputs[1:]:
        df = df.unionByName(spark.read.parquet(p))
    _write(df.dropDuplicates(["clip_id"]), args.out_dir)
    return {"cmd": "merge", "out": args.out_dir, "rows": checkpoint_rows(args.out_dir)}


def cmd_dedup(args) -> dict:
    from kmcp_spark.operators.report import write_reports
    from kmcp_spark.plans.pipeline import DedupPipeline

    spark = get_spark(app="kmcp_dedup", cores=args.cores)
    clips = spark.read.parquet(args.input)
    res = DedupPipeline(spark, PipelineConfig(), args.out_dir).run(clips)
    paths = write_reports(args.out_dir, res.clusters, res.verified)
    return {
        "cmd": "dedup",
        "out": args.out_dir,
        "stages": {m.stage: m.wall_ms for m in res.metrics},
        "reports": sorted(paths),
    }


def cmd_filter(args) -> dict:
    """`kmcp filter` analog (`kmcp/cmd/filter.go:42`: filter search
    results by score thresholds before profiling): qCov floor
    (-t/--min-query-cov), chance-FPR cap via the shared-bands floor
    (-f/--max-fpr, X9 math), optional top-N per query and keep-main
    score-gap — the same gates `search`/`profile` apply, exposed as a
    standalone relocatable step."""
    from kmcp_spark.operators.verify import shared_bands_floor
    from kmcp_spark.sources.tables import checkpoint_rows

    spark = get_spark(app="kmcp_filter", cores=args.cores)
    cfg = PipelineConfig(verify=VerifyConfig(max_chance_fpr=args.max_fpr))
    m = spark.read.parquet(args.matches)
    qcol = "query_id" if "query_id" in m.columns else "a"
    floor = shared_bands_floor(cfg)
    out = m.filter(
        (F.col("containment") >= args.min_query_cov)
        & (F.col("shared_bands") >= floor)
    )
    if args.keep_main:
        from pyspark.sql import Window

        w = Window.partitionBy(qcol)
        out = (
            out.withColumn("_best", F.max("containment").over(w))
            .filter(F.col("containment") >= F.col("_best") - args.max_score_gap)
            .drop("_best")
        )
    if args.top:
        from pyspark.sql import Window

        w = Window.partitionBy(qcol).orderBy(
            F.desc("containment"), F.asc("b" if qcol == "a" else "target_id")
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= args.top)
            .drop("_rn")
        )
    _write(out, args.out_dir)
    return {"cmd": "filter", "out": args.out_dir, "min_shared_bands": floor,
            "rows": checkpoint_rows(args.out_dir)}


def cmd_discordance(args) -> dict:
    """Cross-modal discordance audit over a verified-pairs table
    (operators/discordance.py): classify every pair as label_noise /
    rerecording / concordant from its per-domain Jaccards, write the
    classified table, and report class counts.  Input is the `search`
    or `dedup` verified-pairs parquet (must carry text_jaccard /
    audio_jaccard / min_n_text / min_n_audio — any pipeline output
    does).  Single-modality pairs only reach the verified set when the
    pipeline ran with domain-scoped bands (SketchConfig.domain_perm +
    LSHConfig.domain_bands)."""
    from kmcp_spark.operators.discordance import classify_pairs
    from kmcp_spark.sources.tables import checkpoint_rows

    spark = get_spark(app="kmcp_discordance", cores=args.cores)
    pairs = spark.read.parquet(args.matches)
    out = classify_pairs(
        pairs, hi=args.hi, lo=args.lo, min_domain_size=args.min_domain_size
    )
    if args.only_discordant:
        out = out.filter(F.col("modality_class") != "concordant")
    _write(out, args.out_dir)
    counts = {
        r["modality_class"]: r["n"]
        for r in out.groupBy("modality_class").agg(F.count("*").alias("n")).collect()
    }
    return {
        "cmd": "discordance",
        "out": args.out_dir,
        "rows": checkpoint_rows(args.out_dir),
        "class_counts": counts,
    }


def cmd_quality(args) -> dict:
    """Audio quality gates over a clips parquet (operators/quality.py):
    decode once, aggregate per-frame integer counters, and write
    per-clip verdicts (loudness / clipping / silence / speaking rate +
    pass_all).  The screen a training pipeline runs BEFORE compute —
    pipe its pass_all=true subset into `compute`.  Reference shape:
    the cheap per-record gates kmcp applies before sketching
    (minQueryLen, `kmcp/cmd/search.go`; FracMinHash scaled filter)."""
    from kmcp_spark.operators.quality import audio_quality_gates, clip_frame_stats
    from kmcp_spark.sources.tables import checkpoint_rows

    spark = get_spark(app="kmcp_quality", cores=args.cores)
    clips = spark.read.parquet(args.input)
    meta = clips.select(
        "clip_id", "dur_ms", F.length("transcript").alias("n_chars")
    )
    out = audio_quality_gates(
        clip_frame_stats(clips),
        meta,
        min_cps_centi=args.min_cps_centi,
        max_cps_centi=args.max_cps_centi,
    )
    if args.only_failing:
        out = out.filter(~F.col("pass_all"))
    _write(out, args.out_dir)
    gates = ["pass_decode", "pass_loudness", "pass_clipping",
             "pass_silence", "pass_rate", "pass_all"]
    agg = spark.read.parquet(args.out_dir).agg(
        F.count("*").alias("rows"),
        *[F.sum(F.col(g).cast("int")).alias(g) for g in gates],
    ).collect()[0]
    return {
        "cmd": "quality",
        "out": args.out_dir,
        "rows": checkpoint_rows(args.out_dir),
        "gate_pass_counts": {g: int(agg[g] or 0) for g in gates},
    }


def cmd_utils_index_density(args) -> dict:
    """`kmcp utils index-density` analog (`kmcp/cmd/index-density.go`):
    bucket-size histogram of a band-bucket index."""
    from kmcp_spark.operators.lsh import bucket_stats
    from kmcp_spark.sources.tables import checkpoint_rows

    spark = get_spark(app="kmcp_index_density", cores=args.cores)
    idx = spark.read.parquet(args.index)
    _write(bucket_stats(idx), args.out_dir)
    return {"cmd": "utils-index-density", "out": args.out_dir,
            "rows": checkpoint_rows(args.out_dir)}


def cmd_utils_index_info(args) -> dict:
    """`kmcp utils index-info` analog (`kmcp/cmd/index-info.go`):
    summary stats of a band-bucket index (driver-side, one agg job)."""
    spark = get_spark(app="kmcp_index_info", cores=args.cores)
    idx = spark.read.parquet(args.index)
    row = idx.agg(
        F.count("*").alias("band_rows"),
        F.countDistinct("clip_id").alias("n_clips"),
        F.countDistinct("band_id").alias("n_bands"),
        F.countDistinct("band_id", "band_hash").alias("n_buckets"),
    ).first()
    return {"cmd": "utils-index-info", **row.asDict()}


def cmd_utils_sketch_info(args) -> dict:
    """`kmcp utils unik-info`/`ref-info` analog (`kmcp/cmd/unik-info.go`,
    `ref-info.go`): summary stats of a sketch table."""
    spark = get_spark(app="kmcp_sketch_info", cores=args.cores)
    sk = spark.read.parquet(args.sketches)
    row = sk.agg(
        F.count("*").alias("n_clips"),
        F.sum((~F.col("decode_ok")).cast("int")).alias("n_decode_failed"),
        F.round(F.avg("size"), 2).alias("mean_sketch_size"),
        F.min("size").alias("min_sketch_size"),
        F.max("size").alias("max_sketch_size"),
        F.round(F.avg("n_audio"), 2).alias("mean_audio_shingles"),
        F.round(F.avg("n_text"), 2).alias("mean_text_shingles"),
    ).first()
    return {"cmd": "utils-sketch-info", **row.asDict()}


def cmd_utils_query_fpr(args) -> dict:
    """`kmcp utils query-fpr` analog (`kmcp/cmd/query-fpr.go`): chance
    false-positive probability of a query reaching ``t`` matches out of
    ``n`` under per-item FPR ``f`` (exact binomial tail + Chernoff)."""
    from kmcp_spark.functions.stats import query_fpr, query_fpr_chernoff

    return {
        "cmd": "utils-query-fpr",
        "n": args.n,
        "t": args.t,
        "f": args.f,
        "query_fpr": query_fpr(args.n, args.t, args.f),
        "chernoff_bound": query_fpr_chernoff(args.n, args.t, args.f),
    }


def cmd_utils_cov2simi(args) -> dict:
    """`kmcp utils cov2simi` analog (`kmcp/cmd/cov2simi.go:55`): the
    published qCov -> sequence-similarity%% cubic model (X10)."""
    from kmcp_spark.functions.stats import cov2simi

    return {
        "cmd": "utils-cov2simi",
        "qcov": args.qcov,
        "similarity_pct": float(cov2simi(args.qcov)),
    }


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="kmcp_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--out-dir", required=True)
        sp.add_argument("--cores", type=int, default=None)

    sp = sub.add_parser("compute", help="clips parquet -> sketch table")
    sp.add_argument("--input", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_compute)

    sp = sub.add_parser("index", help="sketch table -> band-bucket index")
    sp.add_argument("--sketches", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_index)

    sp = sub.add_parser("search", help="probe query clips against an index")
    sp.add_argument("--query", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--sketches", required=True, help="target sketch table")
    sp.add_argument("--top", type=int, default=0, help="top-N per query (0 = all)")
    common(sp)
    sp.set_defaults(fn=cmd_search)

    sp = sub.add_parser("profile", help="matches -> clusters + reports")
    sp.add_argument("--matches", required=True)
    sp.add_argument("--sketches", required=True)
    sp.add_argument("--mode", type=int, default=3,
                    help="preset 0 (max recall) .. 5 (max precision), kmcp -m analog")
    sp.add_argument("--drop-class", action="append", default=None,
                    choices=["rerecording", "label_noise"],
                    help="drop this discordance class before clustering "
                         "(repeatable; e.g. --drop-class rerecording)")
    common(sp)
    sp.set_defaults(fn=cmd_profile)

    sp = sub.add_parser("merge", help="union sketch shards (first wins per clip)")
    sp.add_argument("--inputs", nargs="+", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_merge)

    sp = sub.add_parser("dedup", help="full staged pipeline end-to-end")
    sp.add_argument("--input", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_dedup)

    sp = sub.add_parser("filter", help="filter search results by score gates")
    sp.add_argument("--matches", required=True)
    sp.add_argument("--min-query-cov", type=float, default=0.55,
                    help="-t analog (kmcp/cmd/filter.go:417)")
    sp.add_argument("--max-fpr", type=float, default=0.05,
                    help="-f analog (kmcp/cmd/filter.go:414)")
    sp.add_argument("--top", type=int, default=0)
    sp.add_argument("--keep-main", action="store_true")
    sp.add_argument("--max-score-gap", type=float, default=0.4)
    common(sp)
    sp.set_defaults(fn=cmd_filter)

    # `kmcp utils ...` diagnostic surface
    sp = sub.add_parser(
        "discordance", help="classify verified pairs: label-noise / re-recording"
    )
    sp.add_argument("--matches", required=True, help="verified-pairs parquet")
    sp.add_argument("--out-dir", required=True)
    sp.add_argument("--hi", type=float, default=0.85, help="matching-domain Jaccard floor")
    sp.add_argument("--lo", type=float, default=0.5, help="diverged-domain Jaccard ceiling")
    sp.add_argument("--min-domain-size", type=int, default=10)
    sp.add_argument("--only-discordant", action="store_true")
    sp.add_argument("--cores", type=int, default=None)
    sp.set_defaults(fn=cmd_discordance)

    sp = sub.add_parser(
        "quality", help="audio quality gates: loudness/clipping/silence/rate"
    )
    sp.add_argument("--input", required=True, help="clips parquet")
    sp.add_argument("--out-dir", required=True)
    sp.add_argument("--min-cps-centi", type=int, default=200,
                    help="speaking-rate floor, chars/sec x100")
    sp.add_argument("--max-cps-centi", type=int, default=4000,
                    help="speaking-rate ceiling, chars/sec x100")
    sp.add_argument("--only-failing", action="store_true")
    sp.add_argument("--cores", type=int, default=None)
    sp.set_defaults(fn=cmd_quality)

    sp = sub.add_parser("utils-index-density", help="bucket-size histogram of an index")
    sp.add_argument("--index", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_utils_index_density)

    sp = sub.add_parser("utils-index-info", help="summary stats of an index")
    sp.add_argument("--index", required=True)
    sp.add_argument("--cores", type=int, default=None)
    sp.set_defaults(fn=cmd_utils_index_info)

    sp = sub.add_parser("utils-sketch-info", help="summary stats of a sketch table")
    sp.add_argument("--sketches", required=True)
    sp.add_argument("--cores", type=int, default=None)
    sp.set_defaults(fn=cmd_utils_sketch_info)

    sp = sub.add_parser("utils-query-fpr", help="binomial chance-match FPR (no Spark)")
    sp.add_argument("--n", type=int, required=True, help="trials (bands / k-mers)")
    sp.add_argument("--t", type=int, required=True, help="match threshold")
    sp.add_argument("--f", type=float, required=True, help="per-trial FPR")
    sp.set_defaults(fn=cmd_utils_query_fpr)

    sp = sub.add_parser("utils-cov2simi", help="qCov -> similarity%% cubic (no Spark)")
    sp.add_argument("--qcov", type=float, required=True)
    sp.set_defaults(fn=cmd_utils_cov2simi)

    sp = sub.add_parser("version", help="print version info (kmcp version analog)")
    sp.set_defaults(fn=cmd_version)
    return p


def cmd_version(args) -> dict:
    """`kmcp version` analog (`kmcp/cmd/version.go`) — no Spark session."""
    import pyspark

    from kmcp_spark import __version__

    return {"cmd": "version", "kmcp_spark": __version__, "pyspark": pyspark.__version__}


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    out = args.fn(args)
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
