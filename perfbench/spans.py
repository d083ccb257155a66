"""Tracing for the traced run: spans around calls into the program's
public functions, kept in memory and turned into per-layer figures at
the end.  Nothing here changes the program; the wrappers are installed
on the module attributes the pipeline calls through and removed after.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

STAGES = ("exact_groups", "sketches", "candidates", "verified", "clusters")
MIB = 2**20


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    cpu0: float
    cpu1: float

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Spans with a Spark job group each, so the jobs a span launched can
    be found in the status store afterwards."""

    def __init__(self, cpu):
        self.sc = None  # set by attach() once the session exists
        self.cpu = cpu
        self.spans: list[Span] = []
        self.group: str | None = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def set_group(self, group: str | None) -> None:
        self.group = group
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, group: str | None = None, cpu: bool = False):
        """A span; ``cpu`` also reads the process tree's CPU at both edges
        (a /proc scan by run.py, so only where a figure needs it)."""
        outer = self.group
        if group:
            self.set_group(group)
        t0, c0 = time.perf_counter(), self.cpu() if cpu else 0.0
        try:
            yield
        finally:
            t1, c1 = time.perf_counter(), self.cpu() if cpu else 0.0
            self.spans.append(Span(name, t0, t1, c0, c1))
            if group:
                self.set_group(outer)

    def walls(self, name: str, since: int = 0) -> float:
        return sum(s.wall for s in self.spans[since:] if s.name == name)

    def cpu_s(self, name: str, since: int = 0) -> float:
        return sum(s.cpu1 - s.cpu0 for s in self.spans[since:] if s.name == name)

    # ---------------------------------------------------------- status store
    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Summed task metrics of every stage the jobs ran (skipped stages
        have no tasks and add nothing)."""
        st = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info:
                stage_ids.update(info.stageIds)
        tot = dict.fromkeys(("task_s", "gc_s", "input_mb", "shuffle_mb", "spill_mb"), 0.0)
        for sid in stage_ids:
            seq = st.stageData(sid, False, self.sc._jvm.java.util.ArrayList(), False, quantiles)
            for k in range(seq.size()):
                d = seq.apply(k)
                tot["task_s"] += d.executorRunTime() / 1e3
                tot["gc_s"] += d.jvmGcTime() / 1e3
                tot["input_mb"] += d.inputBytes() / MIB
                tot["shuffle_mb"] += d.shuffleWriteBytes() / MIB
                tot["spill_mb"] += d.diskBytesSpilled() / MIB
        return tot


def install_pipeline_spans(tracer: Tracer, pass_tag: str):
    """Wrap the functions ``DedupPipeline.run`` calls through its module
    namespace.  Returns a function that restores the originals.

    Each checkpoint write executes its stage's plan, so a span around
    ``write_checkpoint_data`` is that stage.  The clusters stage also
    runs its connected-components and reassignment loops eagerly before
    its write; they get spans of their own in the clusters group."""
    import kmcp_spark.plans.pipeline as P

    names = ("write_checkpoint_data", "connected_components", "reassign_by_support", "partition_lineage")
    orig = {n: getattr(P, n) for n in names}

    def write(df, path, *a, **k):
        stage = os.path.basename(path.rstrip("/"))
        with tracer.span(f"write.{stage}", f"{pass_tag}:{stage}", cpu=stage == "sketches"):
            return orig["write_checkpoint_data"](df, path, *a, **k)

    def cc(*a, **k):
        with tracer.span("cluster.cc", f"{pass_tag}:clusters.cc"):
            return orig["connected_components"](*a, **k)

    def reassign(*a, **k):
        with tracer.span("cluster.reassign", f"{pass_tag}:clusters"):
            return orig["reassign_by_support"](*a, **k)

    def lineage(path):
        with tracer.span("tables.lineage"):
            return orig["partition_lineage"](path)

    P.write_checkpoint_data, P.connected_components = write, cc
    P.reassign_by_support, P.partition_lineage = reassign, lineage

    def restore():
        for n, f in orig.items():
            setattr(P, n, f)

    return restore


def stage_wall(tracer: Tracer, stage: str, since: int) -> float:
    """Wall of one pipeline stage in the pass whose spans start at ``since``."""
    w = tracer.walls(f"write.{stage}", since)
    if stage == "clusters":
        w += tracer.walls("cluster.cc", since) + tracer.walls("cluster.reassign", since)
    return w


def dir_mb(path: str) -> float:
    """On-disk size of a directory tree."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MIB


def stage_groups(pass_tag: str, stage: str) -> list[str]:
    groups = [f"{pass_tag}:{stage}"]
    if stage == "clusters":
        groups.append(f"{pass_tag}:clusters.cc")
    return groups
