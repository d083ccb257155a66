"""Pipeline configuration + SparkSession factory.

The config fingerprint plays the role of kmcp's database-compatibility
checks (`kmcp/cmd/util-db-search.go:689-695`: a query is only valid
against an index built with the same k / scale / hash params): resumable
stages are only reused when the fingerprint of the config that produced
them matches.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class SketchConfig:
    """Shingle + signature parameters (analog of kmcp compute flags)."""

    char_k: int = 6           # transcript character k-gram size (k analog)
    word_n: int = 3           # transcript word n-gram size
    audio_ngram: int = 4      # spectral-frame token n-gram size
    # F4 minimum-query-length gate (kmcp's minQLen filter drops queries
    # shorter than the k-mer size, `kmcp/cmd/util-db-search.go:778-786`):
    # clips shorter than this cannot form a single audio shingle
    # (frame_ms + (audio_ngram-1)*hop_ms = 55 ms at the defaults) and are
    # dropped before sketching; the pipeline metrics record the count.
    min_dur_ms: int = 60
    # canonical working sample rate: every decoded clip is resampled to
    # this before tokenization (functions/audio.py::resample_pcm), so
    # the same recording ingested at 8/16/44.1 kHz lands in ONE shingle
    # space (band edges are relative bin fractions — without this, a
    # cross-rate duplicate pair measures Jaccard 0.00).  0 disables
    # (native-rate tokens, the pre-r6 behavior).
    sr_work: int = 16000
    frame_ms: int = 25
    hop_ms: int = 10
    n_bands: int = 8
    quant_levels: int = 8
    num_perm: int = 128       # MinHash signature length
    scale: int = 1            # FracMinHash down-sampling (1 = keep all)
    # audio shingle selection scheme: "full" | "minimizer" | "syncmer"
    # (kmcp's sketch families, `kmcp/cmd/compute.go:746-803`)
    audio_select: str = "full"
    minimizer_w: int = 8
    syncmer_s: int = 5
    master_seed: int = 42
    # per-domain MinHash signature length (0 = combined-only).  The
    # combined signature's Jaccard is diluted for pairs where only ONE
    # modality matches (a re-recorded script: text Jaccard 1.0, combined
    # ~|text|/(|text|+2|audio|) ~ 0.2 -> near-zero band-collision
    # probability), so cross-modal analysis (operators/discordance.py)
    # needs domain-scoped signatures banded alongside the combined ones
    # (LSHConfig.domain_bands).  Empty domains get NULL signatures so
    # decode-failed rows can never band-collide with each other.
    domain_perm: int = 0


@dataclass(frozen=True)
class LSHConfig:
    """Banding + skew parameters (analog of kmcp index flags).

    ``max_bucket`` mirrors kmcp's size-escalation thresholds
    (`kmcp/cmd/index.go:787-894`, flags at `:1453-1463`): buckets larger
    than this are escalated to min/max anchor edges instead of
    pair-expanded in one task (``operators/lsh.py``).
    """

    bands: int = 32
    rows_per_band: int = 4    # bands * rows_per_band <= num_perm
    max_bucket: int = 2000    # cap on bucket size before anchor escalation
    # extra bands PER DOMAIN over the domain-scoped signatures (text and
    # audio; requires SketchConfig.domain_perm >= domain_bands *
    # rows_per_band).  0 = combined-only banding (the default pipeline);
    # >0 lets single-modality duplicates (re-recordings, label noise)
    # surface as candidates even when the other modality dilutes the
    # combined Jaccard below banding reach.
    domain_bands: int = 0


@dataclass(frozen=True)
class VerifyConfig:
    """Candidate thresholds (analog of kmcp search -t/-T/-n/-f flags,
    `kmcp/cmd/util-db-search.go:7466-7493`)."""

    min_containment: float = 0.7     # qCov analog for truncation dups
    max_simhash_hamming: int = 12
    min_common_substring: int = 24   # suffix-array verified LCS (chars)
    min_shared_bands: int = 1
    # X9 wiring (kmcp's -f max FPR filter, `kmcp/cmd/util-fpr.go:32-50` /
    # `util-db-search.go:7466-7493`): the EFFECTIVE shared-bands floor is
    # max(min_shared_bands, smallest t with
    #     query_fpr(bands, t, null_jaccard^rows_per_band) <= max_chance_fpr)
    # — i.e. enough band votes that an unrelated pair (true Jaccard <=
    # null_jaccard) reaches them by chance with probability <= the cap.
    # default cap 1e-3 keeps the derived floor at 1 for the default
    # 32x4 banding (P[>=1 chance collision] ~ 2e-4); tightening it to
    # <=1e-4 raises the floor to 2 band votes, and so on
    null_jaccard: float = 0.05
    max_chance_fpr: float = 1e-3
    # per-domain "identical modality" paths (FIXTURES.md detection paths:
    # T2/T3 match on text alone, T4 matches on audio alone):
    min_domain_jaccard: float = 0.85
    min_domain_size: int = 10


@dataclass(frozen=True)
class ProfileModeConfig:
    """`kmcp profile -m` preset analog (`kmcp/cmd/profile.go:230-326`,
    modes 0-5 from "pathogen detection" through "higher precision").

    Mapping to this pipeline's knobs (reference field -> here):
      hicUreadsMinQcov  -> min_qcov           (qCov analog = containment)
      minFragsProp      -> min_chunk_frac     (chunksFrac gate, chunked path)
      maxFragsDepthStdev-> max_rel_depth_std  (depth-dispersion gate)
      keepMainMatch     -> keep_main_match    (best-gap filter W2/F7)
      maxScoreGap       -> max_score_gap
    minReads/minUReads/minHicUreads count uniquely-mapped reads per
    reference — a read-abundance notion with no clip-dedup analog
    (documented n/a, like taxonomy).
    """

    mode: int
    min_qcov: float
    min_chunk_frac: float
    max_rel_depth_std: float
    keep_main_match: bool
    max_score_gap: float


# values transcribed from the reference's presetParams table
# (`kmcp/cmd/profile.go:243-314`); mode 3 is the documented default
PROFILE_MODES: dict[int, ProfileModeConfig] = {
    0: ProfileModeConfig(0, 0.7, 0.2, 10.0, True, 0.4),
    1: ProfileModeConfig(1, 0.7, 0.6, 2.0, False, 0.4),
    2: ProfileModeConfig(2, 0.7, 0.7, 2.0, False, 0.4),
    3: ProfileModeConfig(3, 0.75, 0.8, 2.0, False, 0.4),
    4: ProfileModeConfig(4, 0.8, 1.0, 2.0, False, 0.4),
    5: ProfileModeConfig(5, 0.8, 1.0, 1.5, False, 0.4),
}


def profile_mode(mode: int) -> ProfileModeConfig:
    if mode not in PROFILE_MODES:
        raise ValueError(f"invalid profiling mode: {mode} (0-5)")
    return PROFILE_MODES[mode]


@dataclass(frozen=True)
class PipelineConfig:
    sketch: SketchConfig = field(default_factory=SketchConfig)
    lsh: LSHConfig = field(default_factory=LSHConfig)
    verify: VerifyConfig = field(default_factory=VerifyConfig)
    cc_max_iters: int = 50
    # weak-edge pruning before clustering (MegaPath-rule analog,
    # `kmcp/cmd/profile.go:1357-1388`): edges scoring below alpha x the
    # best incident score of both endpoints are dropped; 0 disables
    cc_prune_alpha: float = 0.5
    # EM-style post-CC reassignment over the unpruned edges (the
    # profiler's stage-4 multi-mapped read reassignment analog,
    # `kmcp/cmd/profile.go:2075-2117`); 0 disables
    em_reassign_iters: int = 1

    def fingerprint(self) -> str:
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


_MIB = 1024 * 1024
_HEAP_CAP_MIB = 16 * 1024        # the heap the stages were tuned with
_HEAP_FLOOR_MIB = 1024
# one Python worker per core runs the Arrow mapInPandas stages; a worker
# holds a 256-row Arrow batch plus its numpy intermediates
_WORKER_RESERVE_MIB = 512


def _mem_available_bytes() -> int:
    """`MemAvailable` from /proc/meminfo, else physical memory."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _default_driver_mem(mem_available_bytes: int, cores: int = 1) -> str:
    """Driver heap that fits the host, as a Spark memory string.

    Half of what is left of `mem_available_bytes` after a reserve for
    each of the `cores` Python workers; the other half covers the JVM's
    off-heap (metaspace, Arrow and shuffle buffers), the driver's own
    Python and the page cache.  Clamped to [1g, 16g].
    """
    budget = mem_available_bytes // _MIB - cores * _WORKER_RESERVE_MIB
    heap = min(_HEAP_CAP_MIB, max(_HEAP_FLOOR_MIB, budget // 2))
    return f"{heap}m"


def _driver_mem(cores: int) -> str:
    """`SPARK_DRIVER_MEM` if set and non-empty, else the host-sized default."""
    return os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(
        _mem_available_bytes(), cores
    )


def _default_cores() -> int:
    """`SPARK_GRAFT_CPUS` if set and non-empty, else the CPUs this
    process may run on (its affinity mask, not the host's CPU count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def get_spark(
    app: str = "kmcp_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local-mode session tuned per the public PySpark guidance.

    On a real cluster these settings come from spark-submit; nothing in
    the pipeline assumes local mode.
    """
    cores = cores or _default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # this VM zeroes fresh pages at only ~300 MB/s, so first-touch page
    # faults dominate at high parallelism: (a) make glibc in the python
    # workers reuse arena memory instead of mmap/munmap-ing every large
    # numpy array (workers inherit this env through the JVM → daemon),
    # (b) pin Xms=Xmx so G1 never uncommits and refaults pages
    # (observed: repeat scans 12.3 s → 2.4 s).  Pinning commits the whole
    # heap at launch, so the default is sized from the host's MemAvailable
    # (_default_driver_mem); SPARK_DRIVER_MEM overrides it unchanged
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(512 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(512 * 1024 * 1024))
    mem = _driver_mem(cores)
    # JIT policy: C1 only.  With the default tiered C1+C2, the compiler
    # threads took about half of a pipeline pass's CPU on a 4-CPU /
    # 15 GiB host (local[4], 2g, perfbench dup_dense input, seed 41:
    # 9.7 / 8.0 / 7.4 s of compile time in passes 2-4, 14.9 / 14.2 /
    # 12.4 CPU-s per pass; C1 only: 1.7 / 1.0 / 0.8 s and 8.7 / 6.7 /
    # 7.0 CPU-s), competing with the task slots and the Python workers.
    # 10 alternating perfbench pairs: cpu_ms_per_clip 15.9 -> 9.1 on
    # dup_dense and 19.7 -> 12.0 on crawl_batch, clips/s +8% / +17%.
    # The cache size is required: C1 only otherwise falls back to the
    # non-tiered 48 MB code cache, which Spark fills, so a long session
    # flushes and recompiles (the 5th pass in one JVM rose from 8-9 to
    # 14-15 CPU-s); at 240m nine passes stayed flat at 6.3-7.0 CPU-s.
    # The cost: C1 code runs slower once warm.  bench.py's 16k corpus,
    # seven fresh-JVM legs a side, timed 3rd pass at local[4]: compile
    # time 8.5-15.6 -> 0.9-1.2 s, wall median 25.8 -> 27.1 s (inside the
    # default's 24.7-29.1 s quartiles); the local[1] legs, where C2 has
    # three idle CPUs, ran 70-73 -> 78-92 s.  Tiered with one C2 thread
    # (-XX:CICompilerCount=2) was no better there (28.7 s median at
    # local[4], 74-88 s at local[1]) and cut perfbench's cpu_ms_per_clip
    # less: 13.9 / 14.6 against C1's 9.4 / 11.5 on dup_dense / crawl_batch
    # (4 alternating pairs a workload)
    jit = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # audio rows are ~100-500 KB each: 2048-row Arrow batches would be
        # ~100-500 MB *per concurrent task* and thrash memory at high
        # core counts; 256 keeps per-task batches ~25-130 MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", f"-Xms{mem} {jit}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # one pass generates ~98 classes, and at the default 100 entries
        # the codegen cache evicts before it is full: every identical
        # later pass recompiled ~50 of them on the crawl_batch benchmark
        # input and on the 240-clip test corpus, 30 on dup_dense
        # (CodegenMetrics compilation count), and the JIT then compiled
        # the fresh classes again.  At 1000 a warm pass compiles nothing
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # measured on this corpus (PCM16 + random 64-bit hashes — both
        # incompressible): snappy EXPANDS the bytes column 6% (71.3 vs
        # 67.1 MB per 500-clip file) and zstd-3 saves only 7% while
        # costing a decode pass (pyarrow scan 0.33 s vs 0.22 s
        # uncompressed).  Uncompressed is smallest-total-time for the
        # bus-bound scan stages; see BENCH/BASELINE.md "data plane"
        .config("spark.sql.parquet.compression.codec", "uncompressed")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
