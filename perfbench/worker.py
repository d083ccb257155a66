"""One workload in one fresh process: set up, time passes, check outputs.

Started by ``run.py``, which reads this process tree's CPU and RSS.
The CPU reading at each edge of a timed pass comes from ``run.py``
through the ``--probe`` pipe pair.  The result goes to ``--out`` as JSON.

Both workloads run ``DedupPipeline(spark, PipelineConfig(), out).run``,
each pass into a fresh output directory that is deleted after its
check.  One operation is one pass.  One round is, on dup_dense, one
pass over the fixed T4 input, whose check fails on every pass
(README.md), and then ``PASSES_PER_ROUND`` timed passes over the
seeded input.  A traced run then drains a stream once (``stream.py``);
each of its micro-batches is one more operation.  Inputs and warm-up
are described in README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs
import spans
import stream
from phases import PHASES, sketch_phase_times
from truth import check_clusters, check_flags

PASSES_PER_ROUND = 2


class Probe:
    """CPU seconds of the whole process tree, as read by run.py.  ``end``
    marks the end of a timed pass, where run.py also reads peak RSS."""

    def __init__(self, spec: str):
        w, r = (int(x) for x in spec.split(","))
        self.w, self.r = os.fdopen(w, "w", buffering=1), os.fdopen(r, "r")

    def __call__(self, cmd: str = "cpu") -> float:
        self.w.write(cmd + "\n")
        return float(self.r.readline())


def log(*a) -> None:
    print("[worker]", *a, file=sys.stderr, flush=True)


def prepare(args, work: str) -> dict:
    """Write the inputs in a separate process, so the bytes it held never
    count in this process's peak RSS; read back only the truth."""
    subprocess.run(
        [sys.executable, inputs.__file__, "--workload", args.workload, "--seed", str(args.seed),
         "--size", args.size, "--procs", str(args.cores), "--trace", str(args.trace), "--out", work],
        check=True,
    )
    data = {}
    for name in ("input", "t4", "drop"):
        path = os.path.join(work, name)
        if os.path.isdir(path):
            data[name] = path
            data[f"{name}_truth"] = inputs.read_truth(path + ("_truth" if name == "drop" else ""))
    return data


def run_pipeline(spark, clips, out: str) -> bool:
    """One pass of the default pipeline into ``out``; False when it raised."""
    from kmcp_spark.config import PipelineConfig
    from kmcp_spark.plans.pipeline import DedupPipeline

    try:
        DedupPipeline(spark, PipelineConfig(), out).run(clips)
        return True
    except Exception as e:  # a failed pass is counted, not fatal
        log(f"pass into {out} failed: {e!r}")
        return False


def read_clusters(out: str):
    return pq.read_table(os.path.join(out, "clusters")).to_pandas()


def run_passes(spark, args, probe, work: str, data: dict, tracer, t_start: float) -> dict:
    truth = data["input_truth"]
    clips = spark.read.parquet(data["input"]).select(*inputs.CLIP_COLS)
    n = len(truth)
    with tracer.span("setup.warmup"):
        # one untimed pass: JIT, plan code generation and the Python
        # workers are warm before the timed passes
        run_pipeline(spark, clips, os.path.join(work, "warm_pass"))
        shutil.rmtree(os.path.join(work, "warm_pass"), ignore_errors=True)

    # the T4 pass leads its round: after it, the timed passes used ~15%
    # less CPU per clip than with it last
    round_ops = (["t4"] if "t4" in data else []) + ["input"] * PASSES_PER_ROUND
    walls, errors, t4_errs, failed, cpu = [], [], set(), 0, 0.0
    per_pass: list[dict] = []
    t_first = time.time()
    i = 0
    while i == 0 or time.time() - t_first < args.seconds:
        for kind in round_ops:
            out = os.path.join(work, f"pass{i}")
            tag = f"bench:pass{i}"
            i += 1
            if kind == "t4":
                src = spark.read.parquet(data["t4"]).select(*inputs.CLIP_COLS)
                ok = run_pipeline(spark, src, out)
                probe("end")
                errs = check_clusters(read_clusters(out), data["t4_truth"]) if ok else ["raised"]
                if errs:
                    failed += 1
                    t4_errs.update(errs)
                shutil.rmtree(out, ignore_errors=True)
                continue
            restore = spans.install_pipeline_spans(tracer, tag) if args.trace else None
            if args.trace:
                tracer.set_group(tag)
            first_span = len(tracer.spans)
            c0, t0 = probe(), time.perf_counter()
            ok = run_pipeline(spark, clips, out)
            t1, c1 = time.perf_counter(), probe("end")
            if restore:
                restore()
                tracer.set_group(None)
            if ok:
                walls.append(t1 - t0)
                cpu += c1 - c0
                errors += [f"{tag}: {e}" for e in check_clusters(read_clusters(out), truth)]
                if args.trace:
                    per_pass.append(pass_layers(tracer, tag, first_span, out, t1 - t0, args.cores))
            else:
                failed += 1
            shutil.rmtree(out, ignore_errors=True)

    notes = [f"pass walls (s): {' '.join(f'{x:.3f}' for x in walls)}"]
    if walls:
        notes.append(f"median pass wall (s): {statistics.median(walls):.3f}")
    notes += [f"T4 input failed its check, a known fault (README.md): {e}" for e in sorted(t4_errs)]
    res = {"correct": not errors, "attempted": i, "failed": failed,
           "notes": notes + [f"CHECK FAILED: {e}" for e in errors]}
    if args.trace:
        res["layers"] = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]} if per_pass else {}
    elif walls:
        res["e2e"] = {
            "setup_s": metric(t_first - t_start, "s"),
            "clips_per_s": metric(n / statistics.median(walls), "clips/s"),
            "cpu_ms_per_clip": metric(1e3 * cpu / (n * len(walls)), "ms"),
        }
    return res


def drain_stream(spark, tracer, data: dict, work: str, res: dict) -> None:
    """The traced run's stream drain: its micro-batches are operations,
    its flags are checked, its figures go to the layers and the notes."""
    n_batches = math.ceil(len(os.listdir(data["drop"])) / stream.FILES_PER_BATCH)
    res["attempted"] += n_batches
    try:
        d = stream.drain(spark, tracer, data["drop"], work)
    except Exception as e:
        log(f"stream drain failed: {e!r}")
        res["failed"] += n_batches
        return
    errs = check_flags(d["flags"], data["drop_truth"])
    if errs:
        res["correct"] = False
        res["notes"] += [f"CHECK FAILED: stream: {e}" for e in errs]
    res["layers"].update(d["layers"])
    b = d["batch_s"]
    res["notes"].append(
        f"stream drain: {len(b)} micro-batches, {d['clips']} clips, "
        f"{d['clips'] / d['wall']:.3f} clips/s, batch p50 {statistics.median(b):.3f} s, "
        f"max {max(b):.3f} s; batch walls (s): {' '.join(f'{x:.3f}' for x in b)}"
    )


def pass_layers(tracer: spans.Tracer, tag: str, since: int, out: str, wall: float, cores: int) -> dict:
    """Per-layer figures of one traced pass."""
    layers: dict[str, float] = {}
    covered = 0.0
    jobs = len(tracer.jobs(tag))
    tots = {}
    for st in spans.STAGES:
        w = spans.stage_wall(tracer, st, since)
        covered += w
        ids = [j for g in spans.stage_groups(tag, st) for j in tracer.jobs(g)]
        jobs += len(ids)
        tots[st] = tot = tracer.stage_totals(ids)
        layers[f"pipeline.{st}_s"] = w
        layers[f"{st}.task_s"] = tot["task_s"]
        layers[f"{st}.busy"] = tot["task_s"] / (w * cores) if w else 0.0
        if st != "sketches":
            layers[f"{st}.shuffle_mb"] = tot["shuffle_mb"]
    layers["sketches.gc_s"] = tots["sketches"]["gc_s"]
    layers["candidates.spill_mb"] = tots["candidates"]["spill_mb"]
    layers["pipeline.driver_s"] = wall - covered
    layers["pipeline.spark_jobs"] = jobs
    layers["cluster.cc_s"] = tracer.walls("cluster.cc", since)
    layers["cluster.cc_jobs"] = len(tracer.jobs(f"{tag}:clusters.cc"))
    layers["tables.lineage_s"] = tracer.walls("tables.lineage", since)
    layers["tables.checkpoint_mb"] = spans.dir_mb(out)
    n_sketched = parquet_rows(os.path.join(out, "sketches"))
    layers["sketch.tree_cpu_ms_per_clip"] = 1e3 * tracer.cpu_s("write.sketches", since) / max(n_sketched, 1)
    cand = parquet_rows(os.path.join(out, "candidates"))
    ver = parquet_rows(os.path.join(out, "verified"))
    over = 0
    if os.path.exists(os.path.join(out, "oversized_buckets.json")):
        with open(os.path.join(out, "oversized_buckets.json")) as f:
            over = json.load(f)["n_oversized_buckets"]
    layers["lsh.candidate_pairs"] = cand
    layers["lsh.oversized_buckets"] = over
    layers["verify.verified_pairs"] = ver
    layers["verify.yield"] = ver / cand if cand else 0.0
    layers["trace.op_s"] = wall
    return layers


def parquet_rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows() if os.path.isdir(path) else 0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# every per-layer metric with its unit
LAYER_UNITS = {
    "config.session_start_s": "s", "corpus.generate_s": "s", "setup.warmup_s": "s",
    **{f"pipeline.{s}_s": "s" for s in spans.STAGES},
    "pipeline.driver_s": "s", "pipeline.spark_jobs": "count",
    **{f"{s}.task_s": "s" for s in spans.STAGES},
    **{f"{s}.busy": "ratio" for s in spans.STAGES},
    **{f"{s}.shuffle_mb": "MiB" for s in spans.STAGES if s != "sketches"},
    "sketches.gc_s": "s", "candidates.spill_mb": "MiB",
    **{f"sketch.{p}_ms_per_clip": "ms" for p in PHASES + ("batch", "boundary")},
    "lsh.candidate_pairs": "count", "lsh.oversized_buckets": "count",
    "verify.verified_pairs": "count", "verify.yield": "ratio",
    "cluster.cc_s": "s", "cluster.cc_jobs": "count",
    "tables.lineage_s": "s", "tables.checkpoint_mb": "MiB",
    "stream.add_batch_s": "s", "stream.trigger_overhead_s": "s",
    "stream.early_batch_s": "s", "stream.late_batch_s": "s",
    "stream.index_read_mb": "MiB", "stream.shuffle_mb": "MiB", "stream.spark_jobs": "count",
    "stream.index_mb": "MiB",
    "trace.op_s": "s",
}


def main() -> int:
    t_start = float(os.environ.get("BENCH_T0", time.time()))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(inputs.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--probe", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    probe = Probe(args.probe)
    work = os.getcwd()

    from kmcp_spark.config import PipelineConfig, get_spark

    tracer = spans.Tracer(probe)
    with tracer.span("corpus.generate"):
        data = prepare(args, work)
    with tracer.span("config.session_start"):
        spark = get_spark(app=f"perfbench_{args.workload}", cores=args.cores)
    tracer.attach(spark)
    res = run_passes(spark, args, probe, work, data, tracer, t_start)

    if args.trace:
        drain_stream(spark, tracer, data, work, res)
        layers = res.pop("layers")
        for s in tracer.spans:
            if s.name in ("config.session_start", "corpus.generate", "setup.warmup"):
                layers[f"{s.name}_s"] = s.wall
        batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        sample = inputs.sample_batch(data["input"], batch_rows, args.seed)
        for k, v in sketch_phase_times(sample, PipelineConfig()).items():
            layers[f"sketch.{k}_ms_per_clip"] = v
        # CPU of the whole tree per sketched clip beyond the kernel itself
        layers["sketch.boundary_ms_per_clip"] = (
            layers.pop("sketch.tree_cpu_ms_per_clip") - layers["sketch.batch_ms_per_clip"]
        )
        res["metrics"] = {k: metric(layers[k], u) for k, u in LAYER_UNITS.items()}
    else:
        res["metrics"] = res.pop("e2e")
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
