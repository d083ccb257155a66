"""Benchmark entry point: runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 1 --trace 0

Run it from the root of a source checkout.  The workload itself runs in
a child Python process (``worker.py``) with its own JVM, so exactly one
JVM is live per call.  This process only watches: at the edges of every
timed operation the child asks it to read the child's whole process
tree from ``/proc`` (the driver, the JVM, the ``pyspark.daemon`` and its
workers) for CPU time and peak RSS, and at the end it stops the whole
tree.  ``getrusage`` would miss the Python workers: they are not
waited-for children of this process.

Exit codes: 0 with a result line; 2 when the checkout holds no program;
3 when the host cannot fit the fixed heap or core count; 1 when the
workload fails or overruns its deadline.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fixed host footprint, the same for every workload and every host: a
# heap sized from MemAvailable would change between runs and move
# peak_rss_mb with it.
DRIVER_MEM = "2g"
CORES = 4
# heap + JVM off-heap + driver + four Python workers with one Arrow batch each
NEED_AVAILABLE_GIB = 6.0
# at the benchmark's core count (scaled up for fewer cores); the stop
# sweep after it takes at most 10 s more
DEADLINE_S = 160.0
POLL_S = 0.2
WORKLOADS = ("crawl_batch", "dup_dense")

_CLK = os.sysconf("SC_CLK_TCK")


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def mem_available_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after the command: state ppid ... utime(12) stime cutime cstime
    return int(f[1]), (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _CLK


def tree(root: int) -> dict[int, float]:
    """{pid: cpu_s} for ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s:
                stats[int(name)] = s
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid][1]
            todo += kids.get(pid, [])
    return out


def hwm_sum(root: int) -> int:
    """Summed peak RSS (VmHWM) of the live members of a process tree."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass
    return total


class Watch:
    """Reads a process tree at the edges of timed operations.  CPU of
    exited members stays counted through their parents' cutime/cstime.
    Peak RSS is each live member's own high-water mark (VmHWM) summed at
    the end of each operation: a summed RSS sampled now and then also
    catches the JVM's forked children between fork and exec, which show
    the whole JVM's RSS again and made the sampled peak jump between
    ~4.8 and ~8 GiB from run to run."""

    def __init__(self, root: int):
        self.root = root
        self.peak_rss = 0

    def cpu(self) -> float:
        return sum(tree(self.root).values())


def _become_subreaper() -> None:
    # orphaned descendants (a JVM whose driver died) re-parent here, so
    # they stay visible and are reaped by the final sweep
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _stop_tree(child: subprocess.Popen) -> None:
    """Stop every process the workload started and wait for each to end:
    the child's tree, and any orphan of it re-parented to this subreaper."""
    me = os.getpid()
    pids = set(tree(me)) - {me}
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(child.pid, sig)
        except OSError:
            pass
        for pid in list(pids):
            try:
                os.kill(pid, sig)
            except OSError:
                pids.discard(pid)
        end = time.time() + 5
        while time.time() < end:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
            if not pids:
                return
            time.sleep(0.1)


def _serve(child: subprocess.Popen, req_r: int, resp_w: int, watch: Watch, deadline: float) -> bool:
    """Answer the child's requests until it exits.  False when the
    deadline passed."""
    buf = b""
    while child.poll() is None:
        if time.time() - T0 > deadline:
            return False
        ready, _, _ = select.select([req_r], [], [], POLL_S)
        if ready:
            chunk = os.read(req_r, 4096)
            buf += chunk
            while b"\n" in buf:
                line, buf = buf.split(b"\n", 1)
                cpu = watch.cpu()
                if line == b"end":
                    watch.peak_rss = max(watch.peak_rss, hwm_sum(watch.root))
                os.write(resp_w, f"{cpu:.6f}\n".encode())
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--cores", type=int, default=CORES,
                    help=f"local[k] cores; the benchmark's figures all use {CORES}")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "kmcp_spark", "__init__.py")):
        log(f"no kmcp_spark package under {ROOT}: run from a source checkout")
        return 2
    if len(os.sched_getaffinity(0)) < args.cores:
        log(f"needs {args.cores} usable cores for local[{args.cores}], found {len(os.sched_getaffinity(0))}")
        return 3
    avail = mem_available_gib()
    if avail < NEED_AVAILABLE_GIB:
        log(f"MemAvailable {avail:.1f} GiB < {NEED_AVAILABLE_GIB} GiB needed for a {DRIVER_MEM} heap")
        return 3

    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    _clean_stale(os.path.dirname(work))
    os.makedirs(os.path.join(work, "tmp"))
    req_r, req_w = os.pipe()
    resp_r, resp_w = os.pipe()
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        BENCH_T0=repr(T0),
    )
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--cores", str(args.cores),
        "--probe", f"{req_w},{resp_r}", "--out", result_path,
    ]
    _become_subreaper()
    with open(os.path.join(work, "worker.log"), "w") as errlog:
        child = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=errlog, stderr=errlog,
            pass_fds=(req_w, resp_r), start_new_session=True,
        )
        os.close(req_w)
        os.close(resp_r)
        watch = Watch(child.pid)
        try:
            in_time = _serve(child, req_r, resp_w, watch, DEADLINE_S * max(1.0, CORES / args.cores))
        finally:
            _stop_tree(child)
    rc = child.wait()
    result = None
    if in_time and rc == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    if result is None:
        log(f"workload {args.workload} {'exited with ' + str(rc) if in_time else 'overran'}; log tail:")
        with open(os.path.join(work, "worker.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass
    if result is None:
        return 1
    metrics = result.pop("metrics")
    if not args.trace:
        metrics["peak_rss_mb"] = {"value": watch.peak_rss / 2**20, "unit": "MiB"}
    for line in result.pop("notes", []):
        print(line)
    print(json.dumps({**result, "metrics": metrics}))
    return 0


def _clean_stale(parent: str) -> None:
    """Remove work dirs left by runs that were killed (their pid is gone)."""
    if not os.path.isdir(parent):
        return
    for name in os.listdir(parent):
        pid = name.removeprefix("run-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
