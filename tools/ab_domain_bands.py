"""Interleaved same-window A/B: pipeline cost of domain-scoped LSH bands.

The discordance feature (operators/discordance.py) needs per-domain
MinHash signatures (SketchConfig.domain_perm=16) banded alongside the
combined signature (LSHConfig.domain_bands=4).  The docstrings price
that at "+2x16-perm signatures in the sketch stage, +8 band rows/clip";
this harness MEASURES it: one Spark session, legs interleaved
base,domain,base,domain,... into fresh dirs (same host window for both
configs, min-estimator per config — the cross-round-artifact lesson,
BENCH/BASELINE.md r5), one warmup pass per config first (AQE/JIT).

Usage: python tools/ab_domain_bands.py [n_clips] [cores] [pairs]
Appends one JSON line to BENCH/ab_domain_bands.jsonl.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from dataclasses import replace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from kmcp_spark.config import PipelineConfig, get_spark
    from kmcp_spark.corpus import generate_clips
    from kmcp_spark.plans.pipeline import DedupPipeline

    spark = get_spark(app="ab_domain_bands", cores=cores,
                      shuffle_partitions=max(cores, 8))
    corpus = os.path.join(REPO, f"_ab_corpus_{n}")
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        clips, _ = generate_clips(spark, n, min_dur_s=1.0, max_dur_s=5.0)
        shutil.rmtree(corpus, ignore_errors=True)
        clips.write.parquet(corpus)
    clips = spark.read.parquet(corpus)

    base = PipelineConfig()
    dom = replace(
        base,
        sketch=replace(base.sketch, domain_perm=16),
        lsh=replace(base.lsh, domain_bands=4),
    )
    cfgs = {"base": base, "domain": dom}
    walls: dict[str, list[float]] = {k: [] for k in cfgs}
    sketch_ms: dict[str, list[int]] = {k: [] for k in cfgs}
    verified_n: dict[str, int] = {}

    def leg(tag: str, timed: bool) -> None:
        out = os.path.join(REPO, f"_ab_dom_{tag}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        res = DedupPipeline(spark, cfgs[tag], out).run(clips)
        wall = time.time() - t0
        if timed:
            walls[tag].append(wall)
            st = {m.stage: m.wall_ms for m in res.metrics}
            sketch_ms[tag].append(st.get("sketches", -1))
            verified_n[tag] = res.verified.count()
        shutil.rmtree(out, ignore_errors=True)
        print(f"  {tag} {'timed' if timed else 'warm '}: {wall:.1f}s", flush=True)

    for tag in cfgs:  # one warmup per config (AQE plans + JIT)
        leg(tag, timed=False)
    for _ in range(pairs):
        for tag in cfgs:
            leg(tag, timed=True)

    rec = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "n_clips": n,
        "cores": cores,
        "pairs": pairs,
        "walls": walls,
        "sketch_ms": sketch_ms,
        "verified_rows": verified_n,
        "overhead_min": round(min(walls["domain"]) / min(walls["base"]), 3),
        "overhead_med": round(
            sorted(walls["domain"])[pairs // 2] / sorted(walls["base"])[pairs // 2], 3
        ),
        "sketch_overhead_min": round(
            min(sketch_ms["domain"]) / max(min(sketch_ms["base"]), 1), 3
        ),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "ab_domain_bands.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
