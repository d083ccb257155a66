"""Benchmark inputs, made from the seed alone and written as parquet.

Both mixes are built from the program's own generator,
``kmcp_spark.corpus.make_rows``, and carry two columns beside the clip
schema: ``cluster_id`` (the planted family; a singleton or near-miss
control is its own family) and ``content`` (this benchmark's hash of
``bytes`` and ``transcript``).

Run as a script, it writes one workload's inputs under ``--out`` and
exits, so the bytes it held never count in the Spark driver's peak RSS:

    python3 perfbench/inputs.py --workload dup_dense --seed 1 --size full --procs 4 --out DIR
"""

from __future__ import annotations

import argparse
import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from truth import content_hash

CLIP_COLS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
INPUT_FILES = 8  # as many files as the program's generator writes partitions
SIZES = {
    "crawl_batch": {"full": 1000, "smoke": 60},
    "dup_dense": {"full": 800, "smoke": 80},
}
DENSE_DUR_S = (0.3, 0.9)
# 20 families, 470 of the 800 rows; 20 near-miss controls; 310 singletons
DENSE_FAMILIES = [120, 80, 50, 30, 30] + [16] * 5 + [8] * 10
SMOKE_FAMILIES = [16, 8, 4, 4]
SEEDED_TRANSFORMS = ("T0", "T1", "T2", "T3")
# The T4 input: a fixed input, the same for every --seed, whose one family
# has a 307 ms base with a 6-word transcript and members cycling T0-T4.
# The default pipeline splits its T4 (transcript edit) members off, so
# its check fails on every pass until that is fixed.  Seeded families
# leave T4 out: on seeded bases the same fault shows on some seeds only.
T4_SEED = 204
T4_FAMILIES = [40]
T4_N = 64
# stream drain of a traced run: the input's first STREAM_CLIPS clips in a
# seeded arrival order, as STREAM_FILES files; the stream reads 8 files
# per micro-batch, so the full size drains in 8 micro-batches
STREAM_CLIPS = {"full": 256, "smoke": 40}
STREAM_FILES = {"full": 64, "smoke": 16}


def _write(rows: pd.DataFrame, path: str) -> None:
    rows = rows.assign(
        content=[content_hash(b, t) for b, t in zip(rows["bytes"], rows["transcript"])]
    ).astype({"sr_hz": "int32", "dur_ms": "int32"})
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(rows)), INPUT_FILES)):
        tab = pa.Table.from_pandas(rows.iloc[part], preserve_index=False)
        pq.write_table(tab, os.path.join(path, f"part-{i:05d}.parquet"))


def _make_rows(job: tuple) -> pd.DataFrame:
    from kmcp_spark.corpus import make_rows

    ids, seed, durs = job
    return make_rows(ids, seed, *durs) if durs else make_rows(ids, seed)


def _pool_rows(ids: np.ndarray, seed: int, procs: int, durs: tuple = ()) -> pd.DataFrame:
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(procs, mp_context=ctx) as pool:
        jobs = [(chunk, seed, durs) for chunk in np.array_split(ids, procs * 2)]
        return pd.concat(pool.map(_make_rows, jobs), ignore_index=True)


def default_mix(lo: int, hi: int, seed: int, path: str, procs: int) -> None:
    """The program generator's default mix for ids lo..hi-1."""
    _write(_pool_rows(np.arange(lo, hi), seed, procs), path)


def _independent_ids(k: int) -> np.ndarray:
    # make_rows plants families only in even blocks of 20 ids; ids in odd
    # blocks are independent clips
    r = np.arange(k)
    return (2 * (r // 20) + 1) * 20 + r % 20


def _encode(pcm: np.ndarray, sr: int, codec: str) -> bytes:
    from kmcp_spark.functions.audio import encode_wav

    if codec == "wav":
        return encode_wav(pcm, sr)
    return (np.clip(pcm, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()


def _member(base: pd.Series, pcm: np.ndarray, tf: str, rng) -> dict:
    """One family member derived from ``base`` by transform ``tf``."""
    from kmcp_spark.corpus import VOCAB

    codec, transcript = base["codec"], base["transcript"]
    if tf == "T1":  # re-encode into the other container
        codec = "pcm_s16le" if codec == "wav" else "wav"
    elif tf == "T2":  # gain; each member its own
        pcm = pcm * rng.uniform(0.5, 0.95)
    elif tf == "T3":  # truncation; each member its own
        pcm = pcm[: int(len(pcm) * rng.uniform(0.85, 0.95))]
    elif tf == "T4":  # identical audio, 1-2 transcript words substituted
        words = transcript.split()
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        transcript = " ".join(words)
    data = base["bytes"] if tf in ("base", "T0", "T4") else _encode(pcm, int(base["sr_hz"]), codec)
    return {
        "bytes": data, "sr_hz": int(base["sr_hz"]), "codec": codec,
        "dur_ms": int(round(len(pcm) / base["sr_hz"] * 1000)), "transcript": transcript,
    }


def dense_mix(n: int, family_sizes: list[int], seed: int, path: str, procs: int,
              transforms: tuple = SEEDED_TRANSFORMS) -> None:
    """Short clips where most rows belong to large planted families.

    Each family is a base clip plus members that cycle through
    ``transforms``: T0 byte-identical copy, T1 re-encode, T2 gain, T3
    truncation, T4 transcript edit (each gain, cut and edit drawn per
    member, so most members are distinct rows).  Each family has one
    near-miss control: an unrelated clip sharing one transcript word
    with its base.  The remaining rows are unrelated singletons.  Clip
    ids are a seeded permutation, so families are spread over the id
    range and files."""
    from kmcp_spark.functions.audio import decode_pcm

    n_fam = len(family_sizes)
    n_single = n - sum(family_sizes) - n_fam
    assert n_single >= 0, "family sizes exceed the row count"
    bases = _pool_rows(_independent_ids(2 * n_fam + n_single), seed, procs, DENSE_DUR_S)
    rng = np.random.default_rng([seed, 0xD5])
    recs = []
    for k, size in enumerate(family_sizes):
        base = bases.iloc[k]
        pcm = decode_pcm(base["bytes"], base["codec"])
        for j in range(size):
            tf = "base" if j == 0 else transforms[(j - 1) % len(transforms)]
            recs.append({**_member(base, pcm, tf, rng), "family": f"fam{k}"})
        ctrl = bases.iloc[n_fam + k]
        words = ctrl["transcript"].split()
        words[int(rng.integers(0, len(words)))] = base["transcript"].split()[0]
        recs.append({**ctrl[CLIP_COLS[1:]].to_dict(), "transcript": " ".join(words), "family": None})
    for i in range(2 * n_fam, len(bases)):
        recs.append({**bases.iloc[i][CLIP_COLS[1:]].to_dict(), "family": None})
    rows = pd.DataFrame.from_records(recs)
    rows["clip_id"] = [f"clip_{i:010d}" for i in rng.permutation(len(rows))]
    rows["cluster_id"] = rows["family"].fillna(rows["clip_id"])
    rows = rows.drop(columns="family").sort_values("clip_id", ignore_index=True)
    _write(rows[CLIP_COLS + ["cluster_id"]], path)


def stage_drop(src: str, path: str, n: int, files: int, seed: int) -> None:
    """The first ``n`` clips of the input at ``src``, in a seeded arrival
    order, as ``files`` parquet files of the clip schema: a drop
    directory for the stream.  Truth columns stay beside them in
    ``<path>_truth``."""
    tab = ds.dataset(src, format="parquet").to_table().slice(0, n)
    order = np.random.default_rng([seed, 0x57]).permutation(n)
    os.makedirs(path)
    for i, part in enumerate(np.array_split(order, files)):
        rows = tab.take(pa.array(part))
        pq.write_table(rows.select(CLIP_COLS), os.path.join(path, f"part-{i:05d}.parquet"))
    os.makedirs(path + "_truth")
    pq.write_table(tab.drop(["bytes"]), os.path.join(path + "_truth", "part-00000.parquet"))


def make(workload: str, size: str, seed: int, out: str, procs: int, trace: bool) -> None:
    """Every input of one run under ``out``: ``input``; for dup_dense the
    fixed ``t4`` input; for a traced run the stream's ``drop``."""
    n = SIZES[workload][size]
    if workload == "crawl_batch":
        default_mix(0, n, seed, os.path.join(out, "input"), procs)
    else:
        fams = DENSE_FAMILIES if size == "full" else SMOKE_FAMILIES
        dense_mix(n, fams, seed, os.path.join(out, "input"), procs)
        dense_mix(T4_N, T4_FAMILIES, T4_SEED, os.path.join(out, "t4"), procs,
                  SEEDED_TRANSFORMS + ("T4",))
    if trace:
        stage_drop(os.path.join(out, "input"), os.path.join(out, "drop"),
                   STREAM_CLIPS[size], STREAM_FILES[size], seed)


def read_truth(path: str) -> pd.DataFrame:
    cols = ["clip_id", "cluster_id", "content"]
    t = ds.dataset(path, format="parquet").to_table(columns=cols).to_pandas()
    return t.rename(columns={"cluster_id": "family"})


def sample_batch(path: str, rows: int, seed: int) -> pd.DataFrame:
    """A seeded sample of ``rows`` clips of an input, in input order."""
    tab = ds.dataset(path, format="parquet").to_table(columns=CLIP_COLS)
    pick = np.sort(np.random.default_rng(seed + 1).permutation(tab.num_rows)[:rows])
    return tab.take(pa.array(pick)).to_pandas()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Write one workload's inputs.")
    ap.add_argument("--workload", required=True, choices=list(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=("full", "smoke"))
    ap.add_argument("--procs", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    make(a.workload, a.size, a.seed, a.out, a.procs, bool(a.trace))
