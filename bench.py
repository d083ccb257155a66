"""Benchmark harness: the N→4N pipeline scaling figure and the driver-query sweep.

``python bench.py`` runs two phases:

  1. scaling: the dedup pipeline on a deterministic synthetic corpus at
     cores_hi (the CPUs the process may use) and cores_lo = cores_hi // 4,
     the local stand-in for N vs 4N executors.  A child process writes
     the corpus and, next to it, its truth; then interleaved rounds run
     one fresh-JVM leg per core count.  A leg pre-reads the corpus into
     the page cache, runs two full-size warm-up passes, times the third
     and, outside the timed wall, scores its clusters against the truth.
     The parent holds no JVM while children run, so at most one JVM of
     the run is alive at a time.  Efficiency comes from the fastest leg
     per core count; each round lists the stages whose walls scale anti-
     or super-linearly, the mark of a leg slowed by something else.
  2. queries: times every driver query from __spark_entry__ on
     local[cores_hi], forcing full execution with the noop sink.

The artifact is the last stdout line: one JSON object under LINE_BUDGET
chars whose metric/value/unit agree.  A best-so-far line is printed
after every round and every query and again on SIGTERM/SIGINT; the
per-leg walls, the JIT compile time of each timed pass (``jit_ms``),
stage walls, round flags and any scaling error go to
``_bench_side.json``.

Env knobs: SPARK_GRAFT_SF_DIR (query data, default sf0.1),
SPARK_GRAFT_CPUS (cores_hi), SPARK_GRAFT_BENCH_CLIPS (corpus size,
default 16000), SPARK_GRAFT_SCALE_ROUNDS (default 3),
SPARK_GRAFT_BENCH_DEADLINE_SEC (default 1500; a round starts only if
the last one would still fit), SPARK_GRAFT_SKIP_SCALING=1 (queries only).

Child modes: ``--gen-corpus N PATH`` and ``--pipeline-run CORES PATH OUT``.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

T0 = time.time()
METRIC = "clips_per_sec_4n(dedup pipeline, N vs 4N cores)"
LINE_BUDGET = 1800  # readers that keep only the last ~2000 chars of stdout still get it whole
WARMUP_PASSES = 2  # the JIT is still warming up the small stages after one pass
# per-leg detail and error text: written to the side file, never onto the line
_SIDE_KEYS = (
    "n_clips", "cores_n", "cores_4n", "clips_per_sec_n", "wall_sec_n",
    "wall_sec_4n", "jit_ms_n", "jit_ms_4n", "stage_ms_n", "stage_ms_4n", "round_flags",
    "scaling_error",
)
_BEST: str | None = None  # latest line, re-printed on SIGTERM/SIGINT


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def _remaining() -> float:
    return T0 + float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1500")) - time.time()


def emit(result: dict, phase: str) -> None:
    """Print ``result`` as one compact JSON line; bulky keys go to the side file."""
    global _BEST
    line = dict(result, phase=phase, bench_wall_sec=round(time.time() - T0, 1))
    line["queries"] = {k: round(v, 1) for k, v in line.get("queries", {}).items()}
    side = {k: line.pop(k) for k in _SIDE_KEYS if k in line}
    _BEST = json.dumps(line, separators=(",", ":"))
    print(_BEST, flush=True)
    with open(os.path.join(REPO, "_bench_side.json"), "w") as f:
        json.dump(dict(side, phase=phase), f, indent=1)


def _on_kill(signum, frame):
    if _BEST is not None:
        print(_BEST, flush=True)
    sys.exit(0)


def _headline(result: dict) -> dict:
    """``result`` with its query total, labelled clips/sec once a scaling
    round completed and as the query total in seconds otherwise."""
    out = dict(result)
    out["total_query_sec"] = round(sum(v for v in out["queries"].values() if v > 0), 2)
    if out.get("value") is None:
        out.update(metric="total_query_sec", value=out["total_query_sec"], unit="sec")
    return out


# ------------------------------------------------------------ child modes

def gen_corpus(n_clips: int, corpus_path: str) -> None:
    """Write the bench corpus to ``corpus_path`` and its truth beside it."""
    from kmcp_spark.config import get_spark
    from kmcp_spark.corpus import generate_clips

    spark = get_spark(app="bench_gen")
    clips, truth = generate_clips(spark, n_clips, min_dur_s=1.0, max_dur_s=5.0)
    clips.write.mode("overwrite").parquet(corpus_path)
    truth.write.mode("overwrite").parquet(corpus_path + "_truth")
    spark.stop()


def _pair_quality(spark, clusters, truth_path: str) -> tuple[float, float]:
    """Pair recall and precision of ``clusters`` against the planted truth."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kmcp_spark.plans.pipeline import dup_pairs_from_clusters

    truth = spark.read.parquet(truth_path).withColumn(
        "cluster_size", F.count("*").over(Window.partitionBy("cluster_id"))
    )
    want = dup_pairs_from_clusters(truth).localCheckpoint(eager=True)
    got = dup_pairs_from_clusters(clusters).localCheckpoint(eager=True)
    hit = want.join(got, ["a", "b"]).count()
    return round(hit / max(want.count(), 1), 4), round(hit / max(got.count(), 1), 4)


def pipeline_run(cores: int, corpus_path: str, out_dir: str) -> None:
    """One scaling leg in this process's fresh JVM; prints its JSON."""
    from kmcp_spark.config import PipelineConfig, get_spark
    from kmcp_spark.plans.pipeline import DedupPipeline

    spark = get_spark(app=f"bench_pipe_{cores}", cores=cores, shuffle_partitions=max(cores, 8))
    # the same page-cache state for every leg, whichever runs first
    for name in os.listdir(corpus_path):
        with open(os.path.join(corpus_path, name), "rb") as f:
            while f.read(1 << 24):
                pass
    clips = spark.read.parquet(corpus_path)
    n = clips.count()
    cfg = PipelineConfig()
    # the JVM's summed JIT compile time: its delta over the timed pass
    # keeps the compiler's share of a leg visible
    jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    # AQE plans from runtime statistics, so only full-size passes warm up
    # the plans the timed pass runs
    for w in range(WARMUP_PASSES + 1):
        shutil.rmtree(out_dir, ignore_errors=True)
        jit0, t0 = jit.getTotalCompilationTime(), time.time()
        res = DedupPipeline(spark, cfg, out_dir).run(clips)
        wall, jit_ms = time.time() - t0, jit.getTotalCompilationTime() - jit0
    recall, precision = _pair_quality(spark, res.clusters, corpus_path + "_truth")
    print(json.dumps({"cores": cores, "n_clips": n, "wall_sec": round(wall, 2),
                      "jit_ms": jit_ms,
                      "stage_ms": {m.stage: m.wall_ms for m in res.metrics},
                      "recall": recall, "precision": precision}))
    spark.stop()


def _child(args: list[str]) -> str:
    """Run ``bench.py ARGS`` in a new process; return its stdout."""
    r = subprocess.run([sys.executable, os.path.abspath(__file__), *args],
                       capture_output=True, text=True, timeout=max(_remaining(), 600))
    if r.returncode != 0:
        log(r.stderr[-2000:])
        raise RuntimeError(f"bench.py {args[0]} {args[1]} failed (rc {r.returncode})")
    return r.stdout


# ---------------------------------------------------------------- scaling

def _round_contention(st_lo: dict, st_hi: dict, core_ratio: float = 4.0) -> list[str]:
    """Stages (>= 2 s) of one round that scale impossibly on quiet hardware:
    slower at more cores (anti-scale), or sped up by more than 1.1 x the
    core ratio (super-scale: the slow leg was slowed from outside)."""
    reasons = []
    for k, lo in st_lo.items():
        hi = st_hi.get(k)
        if hi is not None and lo >= 2000 and hi > lo * 1.05:
            reasons.append(f"anti-scale:{k}")
        if hi is not None and hi >= 2000 and lo > hi * core_ratio * 1.1:
            reasons.append(f"super-scale:{k}={round(lo / hi, 2)}")
    return reasons


def _scaling_summary(legs: dict[int, list[dict]], cores_lo: int, cores_hi: int) -> dict:
    """Figures from the legs so far.  Host noise only ever slows a leg, so
    the fastest leg per core count is the least disturbed estimate."""
    lo, hi = legs[cores_lo], legs[cores_hi]
    ratio = cores_hi / cores_lo
    t_lo = min(leg["wall_sec"] for leg in lo)
    t_hi = min(leg["wall_sec"] for leg in hi)
    n = hi[0]["n_clips"]
    flags = [_round_contention(a["stage_ms"], b["stage_ms"], ratio) for a, b in zip(lo, hi)]
    return {
        "value": round(n / t_hi, 2),
        "scaling_efficiency": round(t_lo / t_hi / ratio, 3),
        "recall": min(leg["recall"] for leg in hi),
        "precision": min(leg["precision"] for leg in hi),
        "rounds": len(flags),
        "flagged_rounds": sum(1 for f in flags if f),
        "n_clips": n,
        "cores_n": cores_lo,
        "cores_4n": cores_hi,
        "clips_per_sec_n": round(n / t_lo, 2),
        "wall_sec_n": [leg["wall_sec"] for leg in lo],
        "wall_sec_4n": [leg["wall_sec"] for leg in hi],
        "jit_ms_n": [leg["jit_ms"] for leg in lo],
        "jit_ms_4n": [leg["jit_ms"] for leg in hi],
        "stage_ms_n": [leg["stage_ms"] for leg in lo],
        "stage_ms_4n": [leg["stage_ms"] for leg in hi],
        "round_flags": flags,
    }


def bench_scaling(cores_hi: int, n_clips: int, rounds: int, result: dict) -> None:
    """Interleaved fresh-JVM legs at cores_lo and cores_hi; updates ``result``
    and emits it after every round."""
    corpus = os.path.join(REPO, f"_bench_corpus_{n_clips}")
    if not os.path.exists(os.path.join(corpus + "_truth", "_SUCCESS")):
        log(f"generating bench corpus n={n_clips} ...")
        _child(["--gen-corpus", str(n_clips), corpus])
    cores_lo = max(cores_hi // 4, 1)
    legs: dict[int, list[dict]] = {cores_lo: [], cores_hi: []}
    last = 0.0
    for r in range(rounds):
        if r and _remaining() < last:
            log(f"deadline: {_remaining():.0f}s left < last round {last:.0f}s; stopping")
            break
        t0 = time.time()
        for cores in (cores_lo, cores_hi):
            out = os.path.join(REPO, f"_bench_pipe_{n_clips}_{cores}")
            try:
                stdout = _child(["--pipeline-run", str(cores), corpus, out])
            finally:
                shutil.rmtree(out, ignore_errors=True)
            leg = json.loads(stdout.splitlines()[-1])
            legs[cores].append(leg)
            log(f"round {r + 1} local[{cores}]: {leg['wall_sec']}s, jit {leg['jit_ms']} ms, recall "
                f"{leg['recall']}, precision {leg['precision']}, stages {leg['stage_ms']}")
        last = time.time() - t0
        result.update(_scaling_summary(legs, cores_lo, cores_hi))
        emit(result, phase=f"scaling_round_{r + 1}")


# ---------------------------------------------------------------- queries

def bench_queries(sf_dir: str, cores: int, result: dict) -> None:
    """Time every driver query into ``result["queries"]`` (-1 on error),
    emitting a best-so-far line after each."""
    import __spark_entry__ as entrymod
    from kmcp_spark.config import get_spark

    spark = get_spark(app="bench_queries", cores=cores, shuffle_partitions=max(cores, 8))
    for name, fn in entrymod.queries().items():
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            result["queries"][name] = round(time.time() - t0, 3)
            log(f"  {name}: {result['queries'][name]}s")
        except Exception as ex:  # report, don't die
            log(f"  {name}: ERROR {ex}")
            result["queries"][name] = -1.0
        # each timing independent of the relations its predecessors persisted
        spark.catalog.clearCache()
        emit(_headline(result), phase=f"queries_{len(result['queries'])}")
    spark.stop()


def main() -> None:
    if sys.argv[1:2] == ["--pipeline-run"]:
        pipeline_run(int(sys.argv[2]), sys.argv[3], sys.argv[4])
        return
    if sys.argv[1:2] == ["--gen-corpus"]:
        gen_corpus(int(sys.argv[2]), sys.argv[3])
        return
    signal.signal(signal.SIGTERM, _on_kill)
    signal.signal(signal.SIGINT, _on_kill)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from kmcp_spark.config import _default_cores

    cores = _default_cores()
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0
    result = {"metric": METRIC, "value": None, "unit": "clips/sec", "sf": sf, "queries": {}}
    if os.environ.get("SPARK_GRAFT_SKIP_SCALING") != "1":
        try:
            bench_scaling(cores, int(os.environ.get("SPARK_GRAFT_BENCH_CLIPS", "16000")),
                          int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "3")), result)
        except Exception as ex:  # keep the rounds that completed
            log("scaling bench failed:\n" + traceback.format_exc())
            result["scaling_error"] = str(ex)[:300]
    bench_queries(sf_dir, cores, result)
    emit(_headline(result), phase="final")


if __name__ == "__main__":
    main()
