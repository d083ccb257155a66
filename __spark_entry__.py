"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family
(SURVEY.md §2 + the training-data-pipeline ops); ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL for every SQL-expressible one.  Column
names/aliases match exactly between both sides (driver hash-compares).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kmcp_spark.operators import dedup as D
from kmcp_spark.operators import relational as R
from kmcp_spark.operators import similarity as S
from kmcp_spark.operators import text as T


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------- aux tables
# Some queries use non-SQL-expressible kernels (numpy SimHash, the audio
# pipeline).  For those, the Spark query WRITES the kernel's output as a
# small parquet "aux" table and then computes its join/filter/rank plan
# FROM that table; the DuckDB oracle reads the same table and mirrors the
# plan in SQL — so everything downstream of the kernel is value-checked.
# Initial copies are committed to git so the oracle side never 404s even
# if it runs before the Spark side; every Spark run refreshes them.

_AUX_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_aux")


def _sflabel(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def _write_aux(df: DataFrame, name: str, sort_cols: list[str]) -> str:
    """Stage a small kernel-output table at a DETERMINISTIC path
    (<name>/data.parquet) with DETERMINISTIC bytes.

    Spark's native parquet writer emits UUID part names and (observed)
    byte-different files for identical content, so every bench run would
    leave the work tree dirty.  Aux tables are small by design (kernel
    outputs over fixtures, <=5k rows), so collect via Arrow, sort by the
    key columns driver-side, and write one file with pyarrow — the same
    content always produces the same bytes, and when the staged file
    already matches it is left untouched (mtimes included)."""
    import shutil

    import pyarrow.parquet as pq

    path = os.path.join(_AUX_DIR, name)
    tbl = df.toArrow().sort_by([(c, "ascending") for c in sort_cols])
    # strip the pandas/Spark schema metadata blob: it can embed
    # plan-dependent field ids while the data is identical
    tbl = tbl.replace_schema_metadata(None)
    os.makedirs(path, exist_ok=True)
    # sweep any stale pre-deterministic-layout files (old UUID parts,
    # _SUCCESS markers) so the directory holds exactly one file
    for f in os.listdir(path):
        fp = os.path.join(path, f)
        if f != "data.parquet":
            shutil.rmtree(fp) if os.path.isdir(fp) else os.remove(fp)
    dest = os.path.join(path, "data.parquet")
    tmp = dest + ".tmp"
    pq.write_table(tbl, tmp, compression="snappy")
    same = False
    if os.path.exists(dest) and os.path.getsize(dest) == os.path.getsize(tmp):
        with open(dest, "rb") as a, open(tmp, "rb") as b:
            same = a.read() == b.read()
    if same:
        os.remove(tmp)
    else:
        os.replace(tmp, dest)
    return path


def _aux_glob(name: str) -> str:
    return os.path.join(_AUX_DIR, name, "*.parquet")


def _oracle_sf() -> str:
    """The driver compares Spark and DuckDB at sf0.01; sf-dependent
    aux-table names in oracle_sql() resolve through this env knob so a
    check at another sf compares against THAT sf's staged tables, never
    a stale sf0.01 copy (set SPARK_GRAFT_ORACLE_SF=sf0.1 for sf0.1)."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash-LSH near-dup detection over documents at sf0.001
    (sketch → band join → exact verification — the full dedup path)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return D.minhash_lsh_dup_pairs(docs, n=3, threshold=0.4)


# ---------------------------------------------------------------- queries

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- dedup family (documents) ---
        "dedup_exact": lambda sp, sf: D.exact_dup_groups(_t(sp, sf, "documents")),
        "dedup_ngram_jaccard": lambda sp, sf: D.ngram_jaccard_pairs(
            _t(sp, sf, "documents"), n=3, threshold=0.4
        ),
        "dedup_minhash_lsh": lambda sp, sf: D.minhash_lsh_dup_pairs(
            _t(sp, sf, "documents"), n=3, threshold=0.4, high_recall=True
        ),
        "dedup_simhash": _dedup_simhash,
        # --- text analysis (documents) ---
        "text_token_stats": lambda sp, sf: T.token_stats(_t(sp, sf, "documents")),
        "text_quality": lambda sp, sf: T.quality_score(_t(sp, sf, "documents")),
        "text_lang_id": lambda sp, sf: T.lang_id(_t(sp, sf, "documents")),
        "text_fingerprint": lambda sp, sf: T.doc_fingerprint(
            _t(sp, sf, "documents"), k=16
        ),
        "text_repetition": lambda sp, sf: T.repetition_stats(_t(sp, sf, "documents")),
        "dedup_repeated_spans": lambda sp, sf: D.repeated_spans(
            _t(sp, sf, "documents"), n=6, min_df=2
        ),
        # --- similarity search (embeddings) ---
        "ann_cosine_topk": lambda sp, sf: S.cosine_topk(
            _t(sp, sf, "embeddings"), n_queries=10, k=5
        ),
        "embedding_dup_pairs": lambda sp, sf: S.cosine_dup_pairs(
            _t(sp, sf, "embeddings"), threshold=0.35
        ),
        "ann_lsh_topk": lambda sp, sf: S.hyperplane_lsh_topk(
            _t(sp, sf, "embeddings"), n_queries=10, k=5
        ),
        "ann_ivf_topk": lambda sp, sf: S.ivf_topk(
            _t(sp, sf, "embeddings"), n_queries=10, k=5, n_cells=16, n_probe=4
        ),
        "ann_pq_topk": lambda sp, sf: S.pq_topk(
            _t(sp, sf, "embeddings"), n_queries=10, k=5, m_subspaces=4, n_codes=16
        ),
        "dedup_semantic": lambda sp, sf: S.semantic_dup_pairs(
            _t(sp, sf, "embeddings"), n_cells=16, threshold=0.35
        ),
        # --- relational analogs of SURVEY.md §2 (lineitem/orders/...) ---
        "topn_per_group": lambda sp, sf: R.topn_per_group(_t(sp, sf, "lineitem"), 3),
        "best_gap_filter": lambda sp, sf: R.best_gap_filter(_t(sp, sf, "lineitem"), 0.1),
        "cooccurrence_pairs": lambda sp, sf: R.cooccurrence_pairs(
            _t(sp, sf, "lineitem"), 2
        ),
        "percentile_score": lambda sp, sf: R.percentile_score(_t(sp, sf, "orders")),
        "share_normalization": lambda sp, sf: R.share_normalization(
            _t(sp, sf, "lineitem"), _t(sp, sf, "supplier"), _t(sp, sf, "nation")
        ),
        "hierarchy_rollup": lambda sp, sf: R.hierarchy_rollup(
            _t(sp, sf, "orders"),
            _t(sp, sf, "customer"),
            _t(sp, sf, "nation"),
            _t(sp, sf, "region"),
        ),
        "multi_shard_intersect": lambda sp, sf: R.multi_shard_intersect(
            _t(sp, sf, "lineitem"), 3
        ),
        "merge_rerank": lambda sp, sf: R.merge_rerank(_t(sp, sf, "orders")),
        "events_hourly": lambda sp, sf: R.events_hourly(_t(sp, sf, "events")),
        "events_sessionize": lambda sp, sf: R.events_sessionize(
            _t(sp, sf, "events"), 30
        ),
        "events_user_stats": lambda sp, sf: R.events_user_stats(
            _t(sp, sf, "events")
        ),
        "events_stream_hourly": _events_stream_hourly,
        "events_stream_sessions": _events_stream_sessions,
        "dedup_containment": lambda sp, sf: D.ngram_containment_pairs(
            _t(sp, sf, "documents"), n=3, threshold=0.6
        ),
        "dedup_multi_k": lambda sp, sf: D.multi_k_dup_pairs(
            _t(sp, sf, "documents"), ks=(5, 4, 3), threshold=0.4
        ),
        "dedup_decontaminate": lambda sp, sf: D.benchmark_contamination(
            _t(sp, sf, "documents"),
            _t(sp, sf, "documents").orderBy("doc_id").limit(20),
            n=3,
            min_common=2,
        ),
        # --- multimodal image near-dup (deterministic synthetic image
        # corpus in real PNG/BMP/PPM containers; the numpy decode+dHash
        # kernel's output is staged as an aux table and the pigeonhole
        # banding + hamming plan is oracle-checked from it, exactly like
        # dedup_simhash) ---
        # --- cap semantics under planted skew (the hot-gram cap and the
        # LSH bucket cap/escalation never fire on the healthy sf tables,
        # so these plant degenerate classes where they MUST fire and
        # hash-check the capped/escalated output against a SQL mirror
        # of the caps; kmcp precedent: oversized-block escalation,
        # kmcp/cmd/index.go:787-894) ---
        "dedup_skew_caps": _dedup_skew_caps,
        "lsh_bucket_skew": _lsh_bucket_skew,
        "image_dup_pairs": _image_dup_pairs,
        # --- the clip pipeline itself, driven on a deterministic
        # synthetic corpus (input_hint schema).  The audio kernels have
        # no SQL equivalent, so their outputs are staged as aux tables
        # and everything downstream (scoring joins, chunk aggregation,
        # recall/precision math) is oracle-checked from those tables;
        # clips_sketch_stats checks the kernel counters + decode_ok
        # flow-through against the staged codes/metadata (r6).
        "clips_sketch_stats": _clips_sketch_stats,
        "clips_dup_pairs": _clips_dup_pairs,
        "clips_chunked_matches": _clips_chunked_matches,
        "clips_matched_spans": _clips_matched_spans,
        "clips_depth_gate": _clips_depth_gate,
        "clips_recall_precision": _clips_recall_precision,
        "clips_cc_loop": _clips_cc_loop,
        # streaming parity: the availableNow-drained incremental stream
        # must flag EXACTLY the batch pipeline's verified pair set; the
        # oracle re-derives that set (with re-scored n_common/
        # containment/jaccard) from the staged batch tables.
        "clips_streaming_flags": _clips_streaming_flags,
        # cross-modal discordance (r6): label-noise vs re-recording
        # classes over the verified pairs, surfaced by the domain-scoped
        # LSH bands; oracle re-scores both domain Jaccards from the
        # staged codes and re-applies the classification rule.
        "clips_discordant": _clips_discordant,
        # spectral landmark constellation matching (r6): hash join +
        # offset-histogram vote over the staged landmark postings; the
        # oracle mirrors the cap/join/vote/rank chain verbatim in SQL.
        "clips_landmark_pairs": _clips_landmark_pairs,
        # query-by-snippet landmark search (r6): mid-clip excerpts probe
        # the full-clip landmark index (kmcp search's query-vs-index
        # shape); hits localize the excerpt via the offset vote.
        "clips_snippet_search": _clips_snippet_search,
        # audio quality gates (r6): loudness/clipping/silence/speaking-
        # rate screens from staged per-frame integer counters; planted
        # probe rows prove each gate fires; the oracle recomputes every
        # counter aggregate and gate verdict with integer SQL.
        "clips_quality_gates": _clips_quality_gates,
    }


def _dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs.  The numpy fingerprint kernel's output is
    staged as an aux table; the banding + hamming pairing (exact for
    hamming <= 8 by pigeonhole over 9 bands) runs over that table in
    Spark while DuckDB mirrors it with an all-pairs scan of the same
    table — identical results because the banding is lossless."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf, "documents")
    sigs = D.doc_signatures(docs, n=3, num_perm=8).filter(F.col("n_grams") > 0)
    path = _write_aux(
        sigs.select("doc_id", "simhash"), f"simhash_sigs_{_sflabel(sf)}", ["doc_id"]
    )
    return D.simhash_pairs_from_sigs(
        spark.read.parquet(path), max_hamming=8, n_bands=9
    )


_SKEW_GRAM_CAP = 50
_SKEW_BUCKET_CAP = 20


def _dedup_skew_caps(spark: SparkSession, sf: str) -> DataFrame:
    """Hot-gram cap semantics (``max_gram_docs``, operators/dedup.py):
    plant a 60-doc boilerplate class (> cap 50) and a 5-doc class
    (< cap) alongside a 30-doc natural slice, and audit raw vs capped
    n-gram Jaccard from ONE shared gram relation
    (``ngram_cap_audit``).  The planted hot class's pairs MUST all drop
    (their only shared grams are the boilerplate ones, df=60 > 50)
    while the small class survives; ``n_hot_grams`` (count of
    capped-out grams, nonzero) rides on every row so the firing itself
    is hash-checked.

    Scoped like its sibling ``lsh_bucket_skew`` (planted classes + a
    deterministic 30-doc natural slice): the cap SEMANTICS live in the
    planted classes — running the uncapped leg over the full sf corpus
    only re-measured the natural C(60,2) blowup at 45 s/query (r5
    verdict #2)."""
    from kmcp_spark.corpus import skew_doc_rows

    planted = spark.createDataFrame(
        skew_doc_rows(unique_tails=True), schema="doc_id bigint, text string"
    )
    _write_aux(planted, "skew_docs", ["doc_id"])
    nat = _t(spark, sf, "documents").select("doc_id", "text").orderBy("doc_id").limit(30)
    docs = nat.unionByName(planted)
    return D.ngram_cap_audit(docs, n=3, threshold=0.4, max_gram_docs=_SKEW_GRAM_CAP)


def _lsh_bucket_skew(spark: SparkSession, sf: str) -> DataFrame:
    """LSH bucket-cap semantics over a planted oversized bucket: a
    60-doc byte-identical class lands in ONE bucket per band (> cap 20),
    a 5-doc class stays under it.  The band relation is staged as an aux
    table (DuckDB has no Spark-compatible xxhash64, so the oracle cannot
    recompute the band hashes; everything after them it can) and BOTH
    cap behaviors run from that same relation:

      path='drop'      the shared ``lsh.bucket_pairs`` kernel — oversized
                       buckets are dropped outright (the document path);
      path='escalate'  pipeline-path ``candidate_pairs`` — oversized
                       buckets emit O(size) min/max anchor edges instead
                       (kmcp's escalation, kmcp/cmd/index.go:787-894).

    ``n_oversized_buckets`` (nonzero — 64 bands x 1 giant bucket),
    counted by a groupBy over the same staged relation, rides on every
    row, so the oracle hash-checks that the caps FIRED, not just that
    the output is safe."""
    from pyspark.sql import functions as F

    from kmcp_spark.corpus import skew_doc_rows
    from kmcp_spark.operators.lsh import bucket_pairs, candidate_pairs

    planted = spark.createDataFrame(
        skew_doc_rows(unique_tails=False), schema="doc_id bigint, text string"
    )
    nat = _t(spark, sf, "documents").select("doc_id", "text").orderBy("doc_id").limit(30)
    sigs = D.doc_signatures(planted.unionByName(nat), n=3, num_perm=128).filter(
        F.col("n_grams") > 0
    )
    path = _write_aux(
        D.doc_band_rows(sigs, bands=64, rows_per_band=2),
        f"skew_bands_{_sflabel(sf)}",
        ["doc_id", "band_id"],
    )
    rel = spark.read.parquet(path)
    drop = bucket_pairs(rel, _SKEW_BUCKET_CAP, "doc_id").withColumn(
        "path", F.lit("drop")
    )
    esc, _ = candidate_pairs(rel.withColumnRenamed("doc_id", "clip_id"), _SKEW_BUCKET_CAP)
    esc = esc.withColumn("path", F.lit("escalate"))
    n_over = (
        rel.groupBy("band_id", "band_hash")
        .count()
        .where(f"count > {_SKEW_BUCKET_CAP}")
        .agg(F.count("*").alias("n_oversized_buckets"))
    )
    cols = ["path", "a", "b", "shared_bands"]
    return drop.select(*cols).unionByName(esc.select(*cols)).crossJoin(n_over)


_FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_fixtures")


def _images_corpus(spark: SparkSession, n: int = 120) -> DataFrame:
    """Write-once parquet fixture of the deterministic synthetic image
    corpus (real PNG/BMP/PPM/baseline-JPEG bytes, planted near-dup
    clusters — see ``kmcp_spark.corpus.make_image_rows``).  The ``v2``
    suffix versions the cache: v2 added jpg as a fourth container
    format (``functions/jpeg.py``)."""
    import json

    from kmcp_spark.corpus import generate_images

    base = os.path.join(_FIXTURE_DIR, f"images{n}v2")
    marker = os.path.join(base, "_done.json")
    if not os.path.exists(marker):
        images, truth = generate_images(spark, n, partitions=8)
        images.write.mode("overwrite").parquet(os.path.join(base, "images"))
        truth.write.mode("overwrite").parquet(os.path.join(base, "truth"))
        with open(marker, "w") as f:
            json.dump({"n": n}, f)
    return spark.read.parquet(os.path.join(base, "images"))


def _image_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Image near-dup pairs over the 120-image fixture.  The decode →
    dHash kernel (pure numpy PNG/BMP/PPM codecs + 9x8 difference hash,
    ``kmcp_spark/functions/image.py``) has no SQL equivalent, so its
    per-image fingerprints are staged as an aux table; the pigeonhole
    banding + exact hamming pairing runs over that table in Spark while
    DuckDB mirrors it with an all-pairs scan — identical results because
    the banding is lossless for hamming <= n_bands - 1 (same contract as
    ``dedup_simhash``)."""
    from pyspark.sql import functions as F

    from kmcp_spark.operators.media import image_dhash

    items = _images_corpus(spark)
    sigs = image_dhash(items).filter(F.col("decode_ok"))
    path = _write_aux(sigs.select("item_id", "dhash"), "image_dhash", ["item_id"])
    return D.simhash_pairs_from_sigs(
        spark.read.parquet(path)
        .select(F.col("item_id").alias("doc_id"), F.col("dhash").alias("simhash")),
        max_hamming=8,
        n_bands=9,
    )


def _clips_corpus(spark: SparkSession, n: int = 140):
    """Write-once parquet fixture of the deterministic synthetic corpus.

    r1 regenerated the corpus from scratch inside EVERY clips query,
    paying Python-worker fan-out for trivial work (44.8 s for 80 clips);
    now generation happens once per process lifetime of the fixture dir
    and every query reads parquet."""
    import json

    from kmcp_spark.corpus import generate_clips

    # v2: the T1 re-encode transform rotates through REAL flac
    # (functions/flac.py) in this fixture, so every clips_* oracle
    # query — and the streaming parity query — entropy-decodes planted
    # flac rows end-to-end.  The throughput-bench corpus (bench.py)
    # keeps the default wav/pcm rotation; see corpus.make_rows.
    # v3: planted LOSSY rows (mp3/ogg container magics, no decoder in
    # this environment) as independent singletons — every clips_* green
    # query now proves the decode_ok=false flow-through end-to-end
    # (the r5 JPEG playbook applied to audio; kmcp reads every FASTA/Q
    # variant it meets, `kmcp/cmd/compute.go:564`).
    # v4: dual-mono mid-side STEREO flac rows.
    # v5: wav rows draw REAL lossy in-container encodings (G.711
    # ulaw/alaw, IMA ADPCM — functions/g711.py, adpcm.py) plus IEEE
    # float32; "ulaw" leads the draw so the planted cluster-0 pair
    # crosses a genuinely lossy boundary (pcm_s16le master vs its
    # mu-law T1 re-encode, ~38 dB quantization noise between them) and
    # must still be detected end-to-end.
    # v6: the transform pool adds T6 sample-rate migration (same
    # recording re-ingested at 16 kHz vs 44.1 kHz) — the planted pairs
    # that prove the sketch stage's canonical-rate normalization
    # (SketchConfig.sr_work; without it a T6 pair's audio-domain
    # Jaccard measures 0.00 and only the text domain could pair them).
    # v7: the pool adds T7 re-record (same transcript, independently
    # synthesized audio -> rerecording) and T8 mislabel (same audio,
    # rewritten transcript -> label_noise) — the two cross-modal
    # discordance classes — and n goes 80 -> 140 so every transform
    # T0-T8 is planted at least once under the block layout (blocks
    # 0/2/4/6 active with cluster sizes 2/4/6/8).
    base = os.path.join(_FIXTURE_DIR, f"clips{n}v7")
    marker = os.path.join(base, "_done.json")
    if not os.path.exists(marker):
        clips, truth = generate_clips(
            spark, n, min_dur_s=0.4, max_dur_s=0.9, partitions=8,
            t1_codecs=("wav", "flac", "pcm_s16le"),  # wav bases -> flac
            base_codecs=("wav", "pcm_s16le", "flac"),  # ~1/3 flac clips
            lossy_codecs=("mp3", "ogg"),
            wav_encodings=("ulaw", "adpcm", "pcm16", "float32", "alaw"),
            t6_resample=True,
            t7_rerecord=True,
            t8_mislabel=True,
        )
        clips.write.mode("overwrite").parquet(os.path.join(base, "clips"))
        truth.write.mode("overwrite").parquet(os.path.join(base, "truth"))
        with open(marker, "w") as f:
            json.dump({"n": n}, f)
    return (
        spark.read.parquet(os.path.join(base, "clips")),
        spark.read.parquet(os.path.join(base, "truth")),
    )


def _truth_pairs(truth: DataFrame) -> DataFrame:
    """Ground-truth intra-cluster pairs (a < b) from the truth table."""
    from pyspark.sql import functions as F

    m = truth.select("clip_id", "cluster_id")
    return (
        m.alias("x")
        .join(m.alias("y"), "cluster_id")
        .filter(F.col("x.clip_id") < F.col("y.clip_id"))
        .select(F.col("x.clip_id").alias("a"), F.col("y.clip_id").alias("b"))
    )


def _stage_clip_sketch_aux(clips: DataFrame, sk: DataFrame) -> None:
    """Stage the sketch codes + clip metadata aux tables (idempotent;
    shared by every clips_* oracle so the staged schema can never
    diverge between queries)."""
    _write_aux(
        sk.select("clip_id", "codes_text", "codes_audio", "size", "decode_ok"),
        "clips_sketches",
        ["clip_id"],
    )
    _write_aux(
        clips.select("clip_id", "codec", "sr_hz", "dur_ms"),
        "clips_meta",
        ["clip_id"],
    )


def _clips_sketch_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-stage output profile on the deterministic 80-clip corpus
    (audio decode -> spectral shingles -> MinHash/SimHash).

    Oracle strategy (the `_info.txt` derived-stats precedent,
    `kmcp/cmd/compute.go:453-457`): the codes arrays + clip metadata are
    staged as aux tables; DuckDB recomputes size/n_text/n_audio from
    the array lengths and decode_ok from the codec-support predicate,
    so the kernel's counters and the lossy flow-through are
    value-checked even though the codes themselves are not
    SQL-derivable."""
    clips, truth, sk, verified = _clips_verified(spark)
    _stage_clip_sketch_aux(clips, sk)
    return sk.select(
        "clip_id", "size", "n_text", "n_audio", "decode_ok"
    ).orderBy("clip_id")


_VERIFIED_CACHE: dict = {}


def _clips_cfg():
    """The clip fixture's pipeline config: defaults + domain-scoped LSH
    bands (SketchConfig.domain_perm / LSHConfig.domain_bands) so
    single-modality duplicate classes — the v7 fixture's planted T7
    re-recordings — surface at candidate generation.  The throughput
    bench and the library default keep domain bands OFF (combined-only
    banding) because merging text-only matches is a semantic choice,
    not a cost one: the measured pipeline overhead of the domain bands
    is ~0% (interleaved same-window A/B at 4k clips / 4 cores:
    wall ratio 0.999 min / 1.001 median, identical verified pairs —
    recorded in BENCH/ab_domain_bands.jsonl)."""
    from dataclasses import replace

    from kmcp_spark.config import PipelineConfig

    cfg = PipelineConfig()
    return replace(
        cfg,
        sketch=replace(cfg.sketch, domain_perm=16),
        lsh=replace(cfg.lsh, domain_bands=4),
    )


def _clips_verified(spark: SparkSession):
    """Shared sketch -> LSH -> score -> verify path over the fixture;
    returns (clips, truth, sketches, verified).

    Memoized per (Spark application, fixture dir): three driver queries
    consume this path, and each previously re-ran the whole
    sketch -> LSH -> score -> verify chain (8-13 s each at local[32]).
    The localCheckpointed results are valid for the life of the session,
    so the second and later consumers pay only the lookup."""
    from kmcp_spark.operators.sketch import sketch_clips
    from kmcp_spark.plans.pipeline import near_dup_pairs

    key = (spark.sparkContext.applicationId, _FIXTURE_DIR)
    hit = _VERIFIED_CACHE.get(key)
    if hit is not None:
        return hit
    cfg = _clips_cfg()
    clips, truth = _clips_corpus(spark)
    sk = sketch_clips(clips, cfg).localCheckpoint(eager=True)
    verified, _ = near_dup_pairs(sk, clips, cfg)
    _VERIFIED_CACHE[key] = (clips, truth, sk, verified.localCheckpoint(eager=True))
    return _VERIFIED_CACHE[key]


def _clips_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Full dedup path (sketch -> LSH -> verify) on the 80-clip corpus.

    Oracle strategy: the sketch codes, the verified pair keys, and the
    truth pairs are staged as aux tables; DuckDB RE-SCORES every emitted
    pair from the codes (list_intersect vs Spark's array_intersect) and
    re-derives the truth flag, so the scoring join math is value-checked
    even though the audio kernel is not SQL-expressible."""
    from pyspark.sql import functions as F

    clips, truth, sk, verified = _clips_verified(spark)
    _stage_clip_sketch_aux(clips, sk)
    _write_aux(
        verified.select("a", "b", "shared_bands", "lcs_len"),
        "clips_verified",
        ["a", "b"],
    )
    tp = _truth_pairs(truth)
    _write_aux(tp, "clips_truth_pairs", ["a", "b"])
    return verified.join(tp.withColumn("_t", F.lit(True)), ["a", "b"], "left").select(
        "a",
        "b",
        "shared_bands",
        "n_common",
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"),
        "lcs_len",
        F.coalesce("_t", F.lit(False)).alias("is_true_dup"),
    )


def _clips_landmark_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Spectral landmark (constellation) matching on the clip fixture:
    peak-pair hashes (Wang 2003) -> hot-code cap -> hash self-join ->
    offset-histogram vote -> best aligned offset per pair.

    The audio-domain complement of clips_dup_pairs: a matching pair
    comes back WITH the frame offset that aligns the two recordings
    (the shingle/MinHash path has no notion of alignment).  Oracle
    strategy: the landmark postings table is staged; everything
    downstream of the numpy kernel — cap, join, vote, rank, threshold,
    truth flag — is mirrored in SQL, so the whole match plan is
    value-checked (same posture as clips_dup_pairs)."""
    from pyspark.sql import functions as F

    from kmcp_spark.operators.landmark import clip_landmarks, landmark_match_pairs

    clips, truth = _clips_corpus(spark)
    lm = clip_landmarks(clips)
    path = _write_aux(lm, "clips_landmarks", ["clip_id", "lhash", "t_idx"])
    tp = _truth_pairs(truth)
    _write_aux(tp, "clips_truth_pairs", ["a", "b"])
    # min_votes=16: measured fixture margin is ~10x (audio-identical
    # pairs vote >= 83 at offset 0; the strongest chance alignment
    # between unrelated clips votes 8) — every planted audio-identical
    # pair matches, zero false pairs, and T7 re-records correctly do
    # NOT (independent audio; the text domain / discordance path owns
    # those, clips_discordant)
    pairs = landmark_match_pairs(
        spark.read.parquet(path), min_votes=16, max_hash_clips=64
    )
    return pairs.join(tp.withColumn("_t", F.lit(True)), ["a", "b"], "left").select(
        "a",
        "b",
        "matched_landmarks",
        "best_offset_frames",
        F.coalesce("_t", F.lit(False)).alias("is_true_dup"),
    )


def _snippet_rows(clips: DataFrame) -> DataFrame:
    """Deterministic mid-clip excerpts as first-class clip rows (the
    query side of snippet search): decode -> canonical 16 kHz ->
    cut frames [n//4, n//4 + max(n//2, 12)) on hop boundaries ->
    re-encode wav.  Hop/frame constants match the landmark kernel
    defaults (25 ms frame / 10 ms hop at 16 kHz), so the excerpt's
    frame k IS the source's frame n//4 + k and the search's offset
    vote must land on n//4 exactly."""
    import pandas as pd

    from kmcp_spark.config import SketchConfig
    from kmcp_spark.functions.audio import decode_work_pcm, encode_wav

    SR, HOP, FRAME = SketchConfig().sr_work, 160, 400
    schema = (
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string"
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for cid, buf, sr, codec in zip(
                pdf["clip_id"], pdf["bytes"], pdf["sr_hz"], pdf["codec"]
            ):
                pcm = decode_work_pcm(buf, codec, sr, SR)
                if pcm is None:
                    continue  # lossy/corrupt clips yield no query row
                n_frames = (len(pcm) - FRAME) // HOP + 1 if len(pcm) >= FRAME else 0
                if n_frames < 24:
                    continue
                f0 = n_frames // 4
                nf = max(n_frames // 2, 12)
                seg = pcm[f0 * HOP : f0 * HOP + (nf - 1) * HOP + FRAME]
                rows.append(
                    (cid, encode_wav(seg, SR), SR, int(len(seg) / SR * 1000), "wav", "")
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"],
                )

    return clips.select("clip_id", "bytes", "sr_hz", "codec").mapInPandas(run, schema)


def _clips_snippet_search(spark: SparkSession, sf: str) -> DataFrame:
    """Query-by-snippet landmark search (`kmcp search`'s asymmetric
    query-vs-index shape): mid-clip excerpts probe the full-clip
    landmark index; a hit localizes the excerpt inside the matched
    clip via the offset vote.  ``is_expected`` flags hits on the
    excerpt's own source or a planted duplicate of it.  Oracle: both
    posting tables are staged; cap/join/vote/rank/threshold and the
    expectation flag are mirrored in SQL."""
    from pyspark.sql import functions as F

    from kmcp_spark.operators.landmark import clip_landmarks, landmark_search

    clips, truth = _clips_corpus(spark)
    ixp = _write_aux(
        clip_landmarks(clips), "clips_landmarks", ["clip_id", "lhash", "t_idx"]
    )
    qp = _write_aux(
        clip_landmarks(_snippet_rows(clips)),
        "clips_snippet_landmarks",
        ["clip_id", "lhash", "t_idx"],
    )
    tp = _truth_pairs(truth)
    _write_aux(tp, "clips_truth_pairs", ["a", "b"])
    # query-relative scoring (see landmark_search): fixture margin is
    # chance <= 0.23 vs true-source >= 0.41, so min_score=0.3 with a
    # small absolute floor separates cleanly
    hits = landmark_search(
        spark.read.parquet(ixp), spark.read.parquet(qp),
        min_votes=4, min_score=0.3, max_hash_clips=64,
    )
    exp = (
        hits.withColumn("_a", F.least("query_id", "clip_id"))
        .withColumn("_b", F.greatest("query_id", "clip_id"))
        .join(
            tp.withColumn("_t", F.lit(True)),
            (F.col("_a") == tp.a) & (F.col("_b") == tp.b),
            "left",
        )
    )
    return exp.select(
        "query_id",
        "clip_id",
        "matched_landmarks",
        "score",
        "best_offset_frames",
        (
            (F.col("query_id") == F.col("clip_id")) | F.coalesce("_t", F.lit(False))
        ).alias("is_expected"),
    )


def _quality_probe_rows(spark: SparkSession) -> DataFrame:
    """Deterministic quality-defect probe rows, one per gate:
    q_quiet (-49 dBFS sine → fails loudness, not silence), q_clipped
    (1.5× full-scale sine hard-clipped by encode_wav → fails clipping),
    q_halfsilent (0.3 s tone + 0.6 s digital zero → fails silence),
    q_fastrate (1333 chars/sec transcript → fails rate high),
    q_slowrate (1 char/sec → fails rate low), q_clean (passes all)."""
    import numpy as np

    from kmcp_spark.functions.audio import encode_wav

    SR = 16000

    def tone(dur_s: float, amp: float, hz: float = 440.0) -> np.ndarray:
        t = np.arange(int(SR * dur_s)) / SR
        return (amp * np.sin(2 * np.pi * hz * t)).astype(np.float32)

    half = np.r_[tone(0.3, 0.5), np.zeros(int(SR * 0.6), np.float32)]
    rows = [
        ("q_quiet", tone(0.8, 0.005), "ten words of perfectly normal transcript text for pacing"),
        ("q_clipped", tone(0.8, 1.5), "ten words of perfectly normal transcript text for pacing"),
        ("q_halfsilent", half, "ten words of perfectly normal transcript text for pacing"),
        ("q_fastrate", tone(0.3, 0.5), "x" * 400),
        ("q_slowrate", tone(2.0, 0.5), "ab"),
        ("q_clean", tone(0.8, 0.5), "ten words of perfectly normal transcript text for pacing"),
    ]
    return spark.createDataFrame(
        [
            (cid, encode_wav(pcm, SR), SR, int(len(pcm) / SR * 1000), "wav", txt)
            for cid, pcm, txt in rows
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )


def _clips_quality_gates(spark: SparkSession, sf: str) -> DataFrame:
    """Audio quality gates (loudness / clipping / silence / speaking
    rate) over the clip corpus plus planted defect probes.  The frame
    kernel stages integer counters (micro-unit rms/peak, zero
    crossings); the gate chain is pure integer aggregation, mirrored
    verbatim in SQL.  Lossy corpus rows (mp3/ogg) surface with
    pass_decode=false — the decode flow-through, gate-side.  The rate
    band is widened for the synthetic corpus (its transcripts are
    vocabulary draws, not speech pacing): probes prove both rate
    directions."""
    from pyspark.sql import functions as F

    from kmcp_spark.operators.quality import audio_quality_gates, clip_frame_stats

    clips, _ = _clips_corpus(spark)
    allc = clips.select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"
    ).unionByName(_quality_probe_rows(spark))
    fp = _write_aux(
        clip_frame_stats(allc), "clips_frame_stats", ["clip_id", "t_idx"]
    )
    mp = _write_aux(
        allc.select(
            "clip_id", "dur_ms", F.length("transcript").alias("n_chars")
        ),
        "clips_quality_meta",
        ["clip_id"],
    )
    return audio_quality_gates(
        spark.read.parquet(fp),
        spark.read.parquet(mp),
        min_cps_centi=200,
        max_cps_centi=100_000,
    )


def _clips_recall_precision(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule dup-pair recall/precision of the full pipeline
    (verify -> weak-edge pruning -> connected components) against the
    planted truth, computed FROM the staged pred/truth pair tables so
    DuckDB can re-derive the same metrics."""
    from pyspark.sql import functions as F

    from kmcp_spark.operators.cluster import cluster_report, connected_components
    from kmcp_spark.plans.pipeline import dup_pairs_from_clusters

    clips, truth, sk, verified = _clips_verified(spark)
    labels = connected_components(
        verified, all_nodes=sk.select("clip_id"), prune_alpha=0.5
    )
    pred = dup_pairs_from_clusters(cluster_report(labels))
    pred_path = _write_aux(pred, "clips_pred_pairs", ["a", "b"])
    truth_path = _write_aux(_truth_pairs(truth), "clips_truth_pairs", ["a", "b"])
    p = spark.read.parquet(pred_path)
    t = spark.read.parquet(truth_path)
    nt = t.agg(F.count("*").alias("n_true"))
    npred = p.agg(F.count("*").alias("n_pred"))
    nh = t.join(p, ["a", "b"]).agg(F.count("*").alias("n_hit"))
    return (
        nt.crossJoin(npred)
        .crossJoin(nh)
        .select(
            "n_true",
            "n_pred",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_true"), 6).alias("recall"),
            F.round(F.col("n_hit") / F.col("n_pred"), 6).alias("precision"),
        )
    )


def _events_stream_dir(spark: SparkSession, sf: str, tag: str) -> str:
    """Stage the events table as an event-time-ordered stream replay
    under a fresh lineage (per-run rmtree: the same path serves
    different sf inputs across driver/bench runs).  Ordered staging is
    load-bearing: a randomly-scattered dump would let the max-ts file
    drain first and the watermark drop older rows as late."""
    import shutil

    from kmcp_spark.streaming.windows import stage_ordered_replay

    base = os.path.join(_FIXTURE_DIR, f"events_stream_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    stage_ordered_replay(_t(spark, sf, "events"), os.path.join(base, "drop"))
    return base


def _events_stream_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked event-time windowed aggregation (§2.9 late-data
    shape): drain the events table as a 2-micro-batch stream and return
    the append-mode hourly windows.  Only windows the final watermark
    sealed (window_end <= max(ts) - 1h) are emitted — the oracle is the
    batch hourly aggregation under exactly that predicate, so a green
    row proves the watermark semantics, not just the arithmetic."""
    from kmcp_spark.streaming.windows import streaming_hourly_counts

    base = _events_stream_dir(spark, sf, "hourly")
    streaming_hourly_counts(
        spark,
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
        watermark="1 hour",
        max_files_per_trigger=6,
    )
    return spark.read.parquet(os.path.join(base, "out"))


def _events_stream_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState
    (§2.10's stateful-streaming surface): per-user open sessions live
    in group state as interval arrays, sealed sessions emit exactly
    once when the watermark passes session_end + gap.  The oracle is
    the batch sessionization restricted to watermark-sealed sessions —
    a green row proves the stream's incremental state machine lands on
    the batch answer regardless of the micro-batch split."""
    from kmcp_spark.streaming.windows import streaming_sessionize

    base = _events_stream_dir(spark, sf, "sessions")
    streaming_sessionize(
        spark,
        os.path.join(base, "drop"),
        os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
        gap_s=1800,
        watermark="1 hour",
        max_files_per_trigger=6,
    )
    return spark.read.parquet(os.path.join(base, "out"))


def _clips_streaming_flags(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming/batch parity (the search-against-prebuilt-index model,
    kmcp's own query shape, `kmcp/cmd/util-db-search.go:763-1025`): drop
    the 80-clip fixture as 24 files, drain ``streaming_neardup_flags``
    with availableNow (maxFilesPerTrigger=8 → 3 micro-batches, so
    cross-batch pairs must come from the persisted index), and return
    the accumulated flags.  The oracle knows nothing of the stream: it
    re-derives the expected pair set from the BATCH pipeline's staged
    sketch/verified tables — a green row proves the incremental stream
    discovers exactly the batch answer, scores included."""
    import shutil

    from pyspark.sql import functions as F

    from kmcp_spark.streaming.dedup import streaming_neardup_flags

    clips, truth, sk, verified = _clips_verified(spark)
    # stage the batch answer for the oracle (idempotent re-stage; makes
    # this query independent of clips_dup_pairs having run first)
    _stage_clip_sketch_aux(clips, sk)
    _write_aux(
        verified.select("a", "b", "shared_bands", "lcs_len"),
        "clips_verified",
        ["a", "b"],
    )
    base = os.path.join(_FIXTURE_DIR, "stream_run")
    shutil.rmtree(base, ignore_errors=True)  # fresh lineage every run
    drop = os.path.join(base, "drop")
    clips.repartition(24).write.mode("overwrite").parquet(drop)
    streaming_neardup_flags(
        spark,
        drop,
        os.path.join(base, "index"),
        os.path.join(base, "flags"),
        os.path.join(base, "ckpt"),
        cfg=_clips_cfg(),  # same domain-band config as the batch side,
        # so stream/batch parity covers the T7 single-modality pairs too
        available_now=True,
    )
    return spark.read.parquet(os.path.join(base, "flags")).select(
        "a",
        "b",
        "shared_bands",
        "n_common",
        F.round("containment", 6).alias("containment"),
        F.round("jaccard", 6).alias("jaccard"),
        "lcs_len",
    )


def _clips_cc_loop(spark: SparkSession, sf: str) -> DataFrame:
    """The DISTRIBUTED hash-min + pointer-jumping CC loop, oracle-checked
    end-to-end: ``driver_max_edges=0`` forces the iterative join path
    (the size-gated driver union-find fast path is bypassed), the pruned
    edge table is staged, and DuckDB independently re-derives the
    components with a recursive transitive-closure CTE + min-label
    aggregation — so the loop's intra-cluster pair set is value-checked
    against a second engine's CC, not against the loop's own output.
    (Complements the pytest equivalence test of both paths; VERDICT r3
    missing #4.)"""
    from kmcp_spark.operators.cluster import (
        cluster_report,
        connected_components,
        prune_weak_edges,
    )
    from kmcp_spark.plans.pipeline import dup_pairs_from_clusters

    clips, truth, sk, verified = _clips_verified(spark)
    edges = prune_weak_edges(verified, alpha=0.5)
    path = _write_aux(edges.select("a", "b"), "clips_cc_edges", ["a", "b"])
    labels = connected_components(
        spark.read.parquet(path),
        all_nodes=sk.select("clip_id"),
        driver_max_edges=0,  # force the distributed loop
    )
    return dup_pairs_from_clusters(cluster_report(labels)).select("a", "b")


def _clips_discordant(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-modal discordance classes over the verified pair set
    (operators/discordance.py): label_noise (audio matches, transcripts
    diverge — planted T8 mislabels) vs rerecording (transcripts match,
    audio unrelated — planted T7 re-records, surfaced only by the
    domain-scoped LSH bands) vs concordant (incl. T4 minor edits).

    Oracle strategy: DuckDB re-derives text/audio Jaccard from the
    staged sketch codes for every verified pair key, applies the SAME
    thresholds, and joins the planted transform labels — so both the
    per-domain scoring math and the classification rule are
    value-checked, and the transform columns prove the planted classes
    land where designed."""
    from pyspark.sql import functions as F

    from kmcp_spark.operators.discordance import classify_pairs

    clips, truth, sk, verified = _clips_verified(spark)
    _stage_clip_sketch_aux(clips, sk)
    _write_aux(
        verified.select("a", "b", "shared_bands", "lcs_len"),
        "clips_verified",
        ["a", "b"],
    )
    _write_aux(truth.select("clip_id", "transform"), "clips_transforms", ["clip_id"])
    ta = truth.select(F.col("clip_id").alias("a"), F.col("transform").alias("transform_a"))
    tb = truth.select(F.col("clip_id").alias("b"), F.col("transform").alias("transform_b"))
    return (
        classify_pairs(verified)
        .join(ta, "a")
        .join(tb, "b")
        .select(
            "a",
            "b",
            F.round("text_jaccard", 6).alias("text_jaccard"),
            F.round("audio_jaccard", 6).alias("audio_jaccard"),
            "modality_class",
            "transform_a",
            "transform_b",
        )
    )


def _clips_chunked_matches(spark: SparkSession, sf: str) -> DataFrame:
    """Chunked sketching (--split-number analog): chunk-level matches
    aggregated per clip pair on the deterministic corpus.

    Banding uses r=1 over all 128 signature positions, which is
    exhaustive for chunk Jaccard >= 0.5 (miss prob <= 0.5^128), so the
    result equals the all-pairs chunk scan DuckDB runs over the staged
    chunk-sketch table — candidate generation, exact scoring, and the
    per-pair roll-up (incl. matched_chunk_frac) are all value-checked."""
    from kmcp_spark.operators.chunking import aggregate_chunk_matches

    sk2, pairs = _clips_chunked(spark)
    return aggregate_chunk_matches(pairs, sk2, min_chunk_jaccard=0.5)


_CHUNKED_CACHE: dict = {}


def _clips_chunked(spark: SparkSession):
    """Shared chunk-sketch + candidate path over the fixture, memoized
    per application like _clips_verified; returns (chunk_sketches_aux,
    chunk_pairs).  Also stages the chunk-sketch aux table for DuckDB."""
    from kmcp_spark.config import PipelineConfig
    from kmcp_spark.operators.chunking import (
        chunk_candidate_pairs,
        sketch_clips_chunked,
    )

    key = (spark.sparkContext.applicationId, _FIXTURE_DIR)
    hit = _CHUNKED_CACHE.get(key)
    if hit is not None:
        return hit
    cfg = PipelineConfig()
    clips, _ = _clips_corpus(spark)
    sk = sketch_clips_chunked(clips, cfg, chunk_sec=0.5, overlap_sec=0.1)
    sk = sk.localCheckpoint(eager=True)
    aux = _write_aux(
        sk.select(
            "clip_id", "chunk_idx", "codes", "size", "n_chunks",
            "start_frame", "end_frame",
        ),
        "clips_chunk_sketches",
        ["clip_id", "chunk_idx"],
    )
    pairs = chunk_candidate_pairs(
        sk, bands=cfg.sketch.num_perm, rows_per_band=1
    ).localCheckpoint(eager=True)
    sk2 = spark.read.parquet(aux)
    _CHUNKED_CACHE[key] = (sk2, pairs)
    return _CHUNKED_CACHE[key]


def _clips_matched_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Matched-region merge (``kmcp utils merge-regions`` analog,
    `kmcp/cmd/merge-regions.go:60-67`): per clip pair, the target-side
    matched chunk intervals collapse into contiguous frame spans with a
    pair-level duplicated-coverage fraction.  The matched chunk table +
    chunk geometry are staged as aux tables; DuckDB mirrors the whole
    gaps-and-islands window plan, so every span boundary and coverage
    number is value-checked."""
    from pyspark.sql import functions as F

    from kmcp_spark.operators.chunking import matched_spans, score_chunk_pairs

    sk2, pairs = _clips_chunked(spark)
    matched = (
        score_chunk_pairs(pairs, sk2)
        .filter(F.col("chunk_jaccard") >= 0.5)
        .select("a", "a_chunk", "b", "b_chunk", F.round("chunk_jaccard", 9).alias("chunk_jaccard"))
    )
    matched = matched.localCheckpoint(eager=True)
    _write_aux(matched, "clips_chunk_matched", ["a", "a_chunk", "b", "b_chunk"])
    return matched_spans(
        spark.read.parquet(os.path.join(_AUX_DIR, "clips_chunk_matched")),
        sk2,
        min_overlap=1,
    )


def _clips_depth_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Profile stage-3 depth-dispersion gate (chunksRelDepthStd analog,
    `kmcp/cmd/profile.go:1832-1841`) on the deterministic corpus.

    Oracle strategy: matched chunk-level pairs are staged as an aux
    table along with the truth labels; DuckDB re-derives the whole gate
    — per-chunk quantized depth sums, rel-depth stdev (mean normalized
    to 1), pass/fail and re-singletoning — from those tables, so every
    decision the gate takes is value-checked."""
    from kmcp_spark.operators.chunking import depth_dispersion_gate, score_chunk_pairs
    from pyspark.sql import functions as F

    sk2, pairs = _clips_chunked(spark)
    _, truth = _clips_corpus(spark)
    matched = (
        score_chunk_pairs(pairs, sk2)
        .filter(F.col("chunk_jaccard") >= 0.5)
        .select("a", "a_chunk", "b", "b_chunk", F.round("chunk_jaccard", 9).alias("chunk_jaccard"))
    )
    matched = matched.localCheckpoint(eager=True)
    _write_aux(matched, "clips_chunk_matched", ["a", "a_chunk", "b", "b_chunk"])
    labels = truth.select("clip_id", "cluster_id")
    _write_aux(labels, "clips_truth_labels", ["clip_id"])
    return depth_dispersion_gate(
        spark.read.parquet(os.path.join(_AUX_DIR, "clips_chunk_matched")),
        sk2,
        spark.read.parquet(os.path.join(_AUX_DIR, "clips_truth_labels")),
        max_rel_depth_std=2.0,
    )


# ------------------------------------------------------------- oracle SQL

_NGRAM_CTE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(ws[i:i+2], ' ')
                               for i in range(1, len(ws) - 1)])) AS gram
  FROM w WHERE len(ws) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
pairs AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common
  FROM g l JOIN g r USING (gram)
  WHERE l.doc_id < r.doc_id
  GROUP BY 1, 2
)
"""



def _qcos(x: str, y: str) -> str:
    """Inline DuckDB expression for the quantized cosine (see
    kmcp_spark.operators.similarity.quantized_cosine): components are
    rounded to integers at 1e6 scale, so every product/partial sum is
    exactly representable in a double (< 2^53) and the result is
    bit-identical to Spark's long-sum fold."""
    q = lambda v: f"[round(CAST(u AS DOUBLE) * 1000000.0) for u in {v}]"
    return (
        f"(list_dot_product({q(x)}, {q(y)}) / "
        f"sqrt(list_dot_product({q(x)}, {q(x)}) * list_dot_product({q(y)}, {q(y)})))"
    )


def _multi_k_sql(ks: tuple[int, ...] = (5, 4, 3), thr: float = 0.4) -> str:
    """SQL mirror of multi_k_dup_pairs: exact Jaccard pairs per n-gram
    size, each level anti-joined against all larger levels (kmcp's
    descending-k probe order)."""
    parts = ["WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)"]
    for n in sorted(ks, reverse=True):
        parts.append(f""",
g{n} AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(ws[i:i+{n - 1}], ' ')
                               for i in range(1, len(ws) - {n - 2})])) AS gram
  FROM w WHERE len(ws) >= {n}
),
z{n} AS (SELECT doc_id, count(*) AS n_grams FROM g{n} GROUP BY doc_id),
q{n} AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common,
         count(*) / (any_value(za.n_grams) + any_value(zb.n_grams) - count(*)) AS jaccard
  FROM g{n} l
  JOIN g{n} r USING (gram)
  JOIN z{n} za ON za.doc_id = l.doc_id
  JOIN z{n} zb ON zb.doc_id = r.doc_id
  WHERE l.doc_id < r.doc_id
  GROUP BY 1, 2
  HAVING count(*) / (any_value(za.n_grams) + any_value(zb.n_grams) - count(*)) >= {thr}
)""")
    selects = []
    desc = sorted(ks, reverse=True)
    for i, n in enumerate(desc):
        anti = " AND ".join(
            f"NOT EXISTS (SELECT 1 FROM q{m} x WHERE x.a = q{n}.a AND x.b = q{n}.b)"
            for m in desc[:i]
        )
        selects.append(
            f"SELECT a, b, n_common, jaccard, CAST({n} AS INT) AS gram_n FROM q{n}"
            + (f" WHERE {anti}" if anti else "")
        )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _ann_lsh_sql(n_queries: int = 10, k: int = 5, n_planes: int = 12, n_tables: int = 4) -> str:
    """Full SQL mirror of hyperplane_lsh_topk: the quantized int64 planes
    are embedded as literals, so DuckDB reproduces every bucket sign bit
    and rank decision exactly (all dot products are exact integers)."""
    from kmcp_spark.operators.similarity import hyperplanes_q

    planes = hyperplanes_q(64, n_planes, n_tables)
    qe = "[round(CAST(u AS DOUBLE) * 1000000.0) for u in embedding]"
    bucket_cols = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product({qe}, {[int(v) for v in planes[t][p]]}) >= 0"
            f" THEN {2 ** p} ELSE 0 END)"
            for p in range(n_planes)
        )
        bucket_cols.append(f"({bits}) AS bucket_t{t}")
    case_bucket = " ".join(
        f"WHEN {t} THEN bucket_t{t}" for t in range(n_tables)
    )
    return f"""
        WITH base AS (
          SELECT vec_id, embedding, {', '.join(bucket_cols)} FROM embeddings
        ), hashed AS (
          SELECT vec_id, embedding, t.table_id,
                 CASE t.table_id {case_bucket} END AS bucket
          FROM base CROSS JOIN (VALUES (0), (1), (2), (3)) t(table_id)
        ), q AS (
          SELECT vec_id AS query_id, embedding AS q_emb, table_id, bucket
          FROM hashed
          WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {n_queries})
        ), cand AS (
          SELECT DISTINCT q.query_id, h.vec_id AS neighbor_id, q.q_emb,
                 h.embedding AS n_emb
          FROM q JOIN hashed h USING (table_id, bucket)
          WHERE h.vec_id != q.query_id
        ), sim AS (
          SELECT query_id, neighbor_id,
                 round({_qcos('q_emb', 'n_emb')}, 5) AS cosine
          FROM cand
        ), ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM sim
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _ann_ivf_sql(
    n_queries: int = 10, k: int = 5, n_cells: int = 16, n_probe: int = 4
) -> str:
    """Full SQL mirror of ivf_topk: medoid seeds are ORDER BY vec_id
    LIMIT n, and assignment / probe selection use the exact quantized
    integer L2 distance (every partial sum < 2^53), so DuckDB reproduces
    every cell decision and rank bit-identically."""
    d2 = (
        "(list_dot_product({x}, {x}) - 2 * list_dot_product({x}, {c})"
        " + list_dot_product({c}, {c}))"
    )
    return f"""
        WITH qz AS (
          SELECT vec_id, embedding,
                 [round(CAST(u AS DOUBLE) * 1000000.0) for u in embedding] AS qv
          FROM embeddings
        ), seeds AS (
          SELECT vec_id AS cell_id, qv AS cv FROM qz ORDER BY vec_id LIMIT {n_cells}
        ), asg AS (
          SELECT vec_id, embedding, cell_id FROM (
            SELECT z.vec_id, z.embedding, s.cell_id,
                   row_number() OVER (
                     PARTITION BY z.vec_id
                     ORDER BY {d2.format(x="z.qv", c="s.cv")} ASC, s.cell_id ASC
                   ) AS rn
            FROM qz z CROSS JOIN seeds s
          ) WHERE rn = 1
        ), q AS (
          SELECT vec_id AS query_id, embedding AS q_emb, qv AS q_qv
          FROM qz ORDER BY vec_id LIMIT {n_queries}
        ), probes AS (
          SELECT query_id, q_emb, cell_id FROM (
            SELECT q.query_id, q.q_emb, s.cell_id,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY {d2.format(x="q.q_qv", c="s.cv")} ASC, s.cell_id ASC
                   ) AS rn
            FROM q CROSS JOIN seeds s
          ) WHERE rn <= {n_probe}
        ), sim AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 round({_qcos('p.q_emb', 'a.embedding')}, 5) AS cosine
          FROM probes p JOIN asg a USING (cell_id)
          WHERE a.vec_id != p.query_id
        ), ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM sim
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _semantic_dedup_sql(n_cells: int = 16, threshold: float = 0.35) -> str:
    """SQL mirror of semantic_dup_pairs: the same medoid seeds and
    quantized-L2 assignment as _ann_ivf_sql, then exact intra-cell
    quantized-cosine pairs — DuckDB reproduces every cell decision and
    every pair bit-identically."""
    d2 = (
        "(list_dot_product({x}, {x}) - 2 * list_dot_product({x}, {c})"
        " + list_dot_product({c}, {c}))"
    )
    return f"""
        WITH qz AS (
          SELECT vec_id, embedding,
                 [round(CAST(u AS DOUBLE) * 1000000.0) for u in embedding] AS qv
          FROM embeddings
        ), seeds AS (
          SELECT vec_id AS cell_id, qv AS cv FROM qz ORDER BY vec_id LIMIT {n_cells}
        ), asg AS (
          SELECT vec_id, embedding, cell_id FROM (
            SELECT z.vec_id, z.embedding, s.cell_id,
                   row_number() OVER (
                     PARTITION BY z.vec_id
                     ORDER BY {d2.format(x="z.qv", c="s.cv")} ASC, s.cell_id ASC
                   ) AS rn
            FROM qz z CROSS JOIN seeds s
          ) WHERE rn = 1
        )
        SELECT l.cell_id, l.vec_id AS a, r.vec_id AS b,
               round({_qcos('l.embedding', 'r.embedding')}, 6) AS cosine
        FROM asg l JOIN asg r USING (cell_id)
        WHERE l.vec_id < r.vec_id
          AND round({_qcos('l.embedding', 'r.embedding')}, 6) >= {threshold}
    """


def oracle_sql() -> dict[str, str]:
    return {
        "dedup_simhash": f"""
            WITH s AS (SELECT * FROM read_parquet('{_aux_glob(f"simhash_sigs_{_oracle_sf()}")}'))
            SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
        """,
        # image near-dup: all-pairs hamming scan over the staged dHash
        # table (Spark side prunes with lossless pigeonhole banding)
        "image_dup_pairs": f"""
            WITH s AS (SELECT * FROM read_parquet('{_aux_glob("image_dhash")}'))
            SELECT a.item_id AS a, b.item_id AS b,
                   CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
            FROM s a JOIN s b ON a.item_id < b.item_id
            WHERE bit_count(xor(a.dhash, b.dhash)) <= 8
        """,
        # decontamination: benchmark = first 20 docs; corpus docs (bench
        # excluded) flagged when sharing >= 2 distinct 3-grams with it
        "dedup_decontaminate": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            g AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(ws[i:i+2], ' ')
                                           for i in range(1, len(ws) - 1)])) AS gram
              FROM w WHERE len(ws) >= 3
            ),
            bench_ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20),
            bg AS (SELECT doc_id AS bench_id, gram FROM g
                   WHERE doc_id IN (SELECT doc_id FROM bench_ids)),
            dg AS (SELECT * FROM g
                   WHERE doc_id NOT IN (SELECT doc_id FROM bench_ids))
            SELECT dg.doc_id,
                   count(DISTINCT dg.gram) AS n_contaminated_grams,
                   count(DISTINCT bg.bench_id) AS n_bench_docs
            FROM dg JOIN bg USING (gram)
            GROUP BY dg.doc_id
            HAVING count(DISTINCT dg.gram) >= 2
        """,
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        # product quantization: medoid-seeded codebooks (first n_codes
        # vectors' subspace slices), exact integer L2 encode (ties ->
        # smaller code), integer ADC sum, rank by (adc_dist, vec_id).
        # CAST(x AS DOUBLE) before the 1e6 multiply is load-bearing:
        # DuckDB otherwise multiplies in float32 and rounds differently
        # at half boundaries (the _qcos pattern).
        "ann_pq_topk": """
            WITH qv AS (
              SELECT vec_id,
                     [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                      for x in embedding] AS e
              FROM embeddings
            ),
            cb AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e
              FROM (SELECT * FROM qv ORDER BY vec_id LIMIT 16)
            ),
            qs AS (SELECT vec_id AS query_id, e FROM qv ORDER BY vec_id LIMIT 10),
            ms AS (SELECT unnest(range(4)) AS m),
            dists AS (
              SELECT v.vec_id, ms.m, cb.code,
                     list_sum([(v.e[ms.m*16+i] - cb.e[ms.m*16+i])
                               * (v.e[ms.m*16+i] - cb.e[ms.m*16+i])
                               for i in range(1, 17)]) AS dist
              FROM qv v, ms, cb
            ),
            enc AS (
              SELECT vec_id, m, code FROM (
                SELECT vec_id, m, code,
                       row_number() OVER (PARTITION BY vec_id, m
                                          ORDER BY dist, code) AS rn
                FROM dists) WHERE rn = 1
            ),
            dt AS (
              SELECT q.query_id, ms.m, cb.code,
                     list_sum([(q.e[ms.m*16+i] - cb.e[ms.m*16+i])
                               * (q.e[ms.m*16+i] - cb.e[ms.m*16+i])
                               for i in range(1, 17)]) AS dist
              FROM qs q, ms, cb
            ),
            adc AS (
              SELECT dt.query_id, enc.vec_id,
                     CAST(sum(dt.dist) AS BIGINT) AS adc_dist
              FROM enc JOIN dt USING (m, code)
              WHERE enc.vec_id != dt.query_id
              GROUP BY 1, 2
            )
            SELECT query_id, vec_id, adc_dist, rank FROM (
              SELECT query_id, vec_id, adc_dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adc_dist, vec_id) AS rank
              FROM adc)
            WHERE rank <= 5
        """,
        "dedup_semantic": _semantic_dedup_sql(),
        "dedup_multi_k": _multi_k_sql(),
        "dedup_exact": """
            SELECT md5(text) AS text_hash, count(*) AS n_docs,
                   min(doc_id) AS min_doc_id
            FROM documents GROUP BY 1
        """,
        "dedup_ngram_jaccard": _NGRAM_CTE
        + """
            SELECT a, b, n_common,
                   n_common / (sa.n_grams + sb.n_grams - n_common) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE n_common / (sa.n_grams + sb.n_grams - n_common) >= 0.4
        """,
        "dedup_minhash_lsh": _NGRAM_CTE
        + """
            SELECT a, b, n_common,
                   n_common / (sa.n_grams + sb.n_grams - n_common) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE n_common / (sa.n_grams + sb.n_grams - n_common) >= 0.4
        """,
        "text_token_stats": r"""
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
                   CAST(len(regexp_extract_all(text,
                        '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
                        AS INT) AS n_bpe_tokens,
                   CAST(length(text) AS INT) AS n_chars_actual,
                   CAST(list_sum([length(t) for t in
                        regexp_split_to_array(trim(text), '\s+')]) AS DOUBLE)
                     / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1)
                     AS mean_token_len
            FROM documents
        """,
        "text_quality": """
            WITH f AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS toks,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                       * 1.0 / greatest(length(text), 1) AS alpha_ratio,
                     length(regexp_replace(text, '[^0-9]', '', 'g'))
                       * 1.0 / greatest(length(text), 1) AS digit_ratio
              FROM documents
            ), g AS (
              SELECT doc_id, alpha_ratio, digit_ratio,
                     len([t for t in toks if list_contains(
                        ['the','and','of','to','in','is','that','it','for','with'],
                        lower(t))]) * 1.0 / greatest(len(toks), 1) AS stopword_ratio,
                     list_sum([length(t) for t in toks]) * 1.0
                       / greatest(len(toks), 1) AS mean_word_len
              FROM f
            )
            SELECT doc_id,
                   round(alpha_ratio, 6) AS alpha_ratio,
                   round(digit_ratio, 6) AS digit_ratio,
                   round(stopword_ratio, 6) AS stopword_ratio,
                   round(mean_word_len, 6) AS mean_word_len,
                   round(0.4 * alpha_ratio + 0.3 * stopword_ratio
                         + 0.3 * (1.0 - least(abs(mean_word_len - 5.0) / 5.0, 1.0))
                         - 0.5 * digit_ratio, 6) AS quality
            FROM g
        """,
        "text_lang_id": _langid_sql(),
        "text_fingerprint": """
            WITH g AS (
              SELECT doc_id,
                     [md5(substr(text, i, 16))
                      for i in range(1, greatest(length(text) - 15, 1) + 1)] AS fps
              FROM documents
            )
            SELECT doc_id, list_min(fps) AS fp_min, list_max(fps) AS fp_max FROM g
        """,
        # integer/integer divisions only: both engines produce the same
        # IEEE double from the same int pair, so no rounding is needed
        # (same contract as dedup_ngram_jaccard's jaccard column)
        "text_repetition": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            wordstats AS (
              SELECT doc_id, len(ws) AS n_words,
                     CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws)
                         AS dup_word_frac
              FROM w
            ),
            g2 AS (
              SELECT doc_id, gram, count(*) AS c FROM (
                SELECT doc_id,
                       unnest([array_to_string(ws[i:i+1], ' ')
                               for i in range(1, len(ws))]) AS gram
                FROM w WHERE len(ws) >= 2)
              GROUP BY doc_id, gram
            ),
            g2s AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
                    FROM g2 GROUP BY doc_id),
            g3 AS (
              SELECT doc_id, gram, count(*) AS c FROM (
                SELECT doc_id,
                       unnest([array_to_string(ws[i:i+2], ' ')
                               for i in range(1, len(ws) - 1)]) AS gram
                FROM w WHERE len(ws) >= 3)
              GROUP BY doc_id, gram
            ),
            g3s AS (SELECT doc_id,
                           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                               / sum(c) AS dup_trigram_frac
                    FROM g3 GROUP BY doc_id)
            SELECT ws.doc_id, ws.n_words, ws.dup_word_frac,
                   coalesce(g2s.top_bigram_frac, 0.0) AS top_bigram_frac,
                   coalesce(g3s.dup_trigram_frac, 0.0) AS dup_trigram_frac
            FROM wordstats ws
            LEFT JOIN g2s USING (doc_id) LEFT JOIN g3s USING (doc_id)
        """,
        "dedup_repeated_spans": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            p AS (
              SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+5], ' ') AS gram
              FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 4)) AS i) t
              WHERE len(ws) >= 6
            ),
            df_tab AS (SELECT gram, count(DISTINCT doc_id) AS df FROM p GROUP BY gram),
            dup AS (
              SELECT p.doc_id, p.pos FROM p JOIN df_tab USING (gram)
              WHERE df_tab.df >= 2 AND df_tab.df <= 10000
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev IS NULL OR pos - prev > 5 THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM (SELECT doc_id, pos,
                           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                    FROM dup)
            )
            SELECT doc_id, min(pos) AS span_start, max(pos) + 5 AS span_end,
                   max(pos) - min(pos) + 6 AS span_len_tokens,
                   count(*) AS n_dup_grams
            FROM isl GROUP BY doc_id, island
        """,
        "ann_cosine_topk": f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q_emb
              FROM embeddings ORDER BY vec_id LIMIT 10
            ), sim AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round({_qcos('q.q_emb', 'e.embedding')}, 5) AS cosine
              FROM q, embeddings e WHERE e.vec_id != q.query_id
            ), ranked AS (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rank
              FROM sim
            )
            SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "embedding_dup_pairs": f"""
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round({_qcos('a.embedding', 'b.embedding')}, 6) AS cosine
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND round({_qcos('a.embedding', 'b.embedding')}, 6) >= 0.35
        """,
        "topn_per_group": """
            SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(price_rank AS INT) AS price_rank
            FROM (
              SELECT l_orderkey, l_linenumber, l_extendedprice,
                     dense_rank() OVER (PARTITION BY l_orderkey
                                        ORDER BY l_extendedprice DESC) AS price_rank
              FROM lineitem
            ) WHERE price_rank <= 3
        """,
        "best_gap_filter": """
            SELECT l_orderkey, l_linenumber, l_extendedprice, best_price
            FROM (
              SELECT l_orderkey, l_linenumber, l_extendedprice,
                     max(l_extendedprice) OVER (PARTITION BY l_orderkey) AS best_price
              FROM lineitem
            ) WHERE l_extendedprice >= best_price * 0.9
        """,
        "cooccurrence_pairs": """
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
            SELECT x.l_partkey AS p1, y.l_partkey AS p2, count(*) AS n_orders
            FROM li x JOIN li y USING (l_orderkey)
            WHERE x.l_partkey < y.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "percentile_score": """
            SELECT o_custkey,
                   round(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 4) AS p90_total,
                   count(*) AS n_orders
            FROM orders GROUP BY 1 HAVING count(*) >= 3
        """,
        "share_normalization": """
            WITH rev AS (
              SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              GROUP BY 1
            )
            SELECT n_name, round(revenue, 2) AS revenue,
                   round(revenue / sum(revenue) OVER () * 100.0, 6) AS pct
            FROM rev
        """,
        "hierarchy_rollup": """
            SELECT r_name, round(sum(o_totalprice), 2) AS total,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "multi_shard_intersect": """
            SELECT l_partkey, count(DISTINCT l_suppkey) AS n_suppliers
            FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 3
        """,
        "merge_rerank": """
            SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rnk
              FROM orders
            ) WHERE rnk <= 2
        """,
        "events_hourly": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
                   event_type,
                   count(*) AS n_events, round(sum(CAST(round(value * 1000000) AS BIGINT)) / count(*) / 1000000.0, 6) AS mean_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH s AS (
              SELECT user_id, event_id, value,
                     CAST(floor(epoch(ts)) AS BIGINT) AS te, ts, 
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR CAST(floor(epoch(ts)) AS BIGINT)
                                  - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), t AS (
              SELECT user_id, te, value,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS BIGINT) AS session_id
              FROM s
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   min(te) AS session_start,
                   max(te) AS session_end,
                   round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 6) AS total_value
            FROM t GROUP BY 1, 2
        """,
        # sealed-results oracles for the two late-data streaming
        # queries: the stream withholds windows/sessions the watermark
        # (max event time - 1h) has not passed, so the batch answer
        # restricted to the seal predicate IS the expected drain output
        "events_stream_hourly": """
            WITH m AS (SELECT epoch(max(ts)) AS mx FROM events)
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
                   event_type, count(*) AS n_events,
                   round(sum(CAST(round(value * 1000000) AS BIGINT)) / count(*) / 1000000.0, 6) AS mean_value
            FROM events
            GROUP BY 1, 2
            HAVING hour_epoch + 3600 <= (SELECT mx FROM m) - 3600
        """,
        "events_stream_sessions": """
            WITH m AS (SELECT epoch(max(ts)) AS mx FROM events),
            s AS (
              SELECT user_id, event_id, value,
                     CAST(floor(epoch(ts)) AS BIGINT) AS te, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR CAST(floor(epoch(ts)) AS BIGINT)
                                  - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), t AS (
              SELECT user_id, te, value,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS BIGINT) AS session_id
              FROM s
            ), sess AS (
              SELECT user_id, min(te) AS session_start, max(te) AS session_end,
                     count(*) AS n_events,
                     round(sum(CAST(round(value * 1000000) AS BIGINT)) / count(*) / 1000000.0, 6) AS mean_value
              FROM t GROUP BY user_id, session_id
            )
            SELECT user_id, session_start, session_end, n_events, mean_value
            FROM sess
            WHERE (session_end + 1800) < (SELECT mx FROM m) - 3600
        """,
        "events_user_stats": """
            SELECT user_id, count(*) AS n_events,
                   count(DISTINCT event_type) AS n_types,
                   round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value,
                   round(sum(CAST(round(value * 1000000) AS BIGINT)) / count(*) / 1000000.0, 6) AS mean_value
            FROM events GROUP BY 1
        """,
        "dedup_containment": _NGRAM_CTE
        + """
            SELECT a, b, n_common,
                   n_common / least(sa.n_grams, sb.n_grams) AS containment
            FROM pairs
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE n_common / least(sa.n_grams, sb.n_grams) >= 0.6
        """,
        # dedup_skew_caps: DuckDB rebuilds the gram relation over the
        # same scoped corpus (30-doc natural slice ∪ the staged planted
        # docs), applies the SAME max_gram_docs cap (df <= 50), and
        # re-derives both the uncapped and capped pair sets + the count
        # of capped-out grams.
        "dedup_skew_caps": f"""
            WITH alldocs AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 30
              )
              UNION ALL
              SELECT doc_id, text FROM read_parquet('{_aux_glob("skew_docs")}')
            ),
            w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM alldocs),
            g AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(ws[i:i+2], ' ')
                                           for i in range(1, len(ws) - 1)])) AS gram
              FROM w WHERE len(ws) >= 3
            ),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
            freq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
            nhot AS (SELECT count(*) AS n_hot_grams FROM freq WHERE df > {_SKEW_GRAM_CAP}),
            praw AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common
              FROM g l JOIN g r USING (gram)
              WHERE l.doc_id < r.doc_id GROUP BY 1, 2
            ),
            rawp AS (
              SELECT a, b, n_common,
                     n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common) AS jac
              FROM praw JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE n_common * 1.0 / (sa.n_grams + sb.n_grams - n_common) >= 0.4
            ),
            gok AS (SELECT g.* FROM g JOIN freq USING (gram) WHERE df <= {_SKEW_GRAM_CAP}),
            pcap AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common
              FROM gok l JOIN gok r USING (gram)
              WHERE l.doc_id < r.doc_id GROUP BY 1, 2
            ),
            capp AS (
              SELECT a, b, p.n_common
              FROM pcap p JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE p.n_common * 1.0 / (sa.n_grams + sb.n_grams - p.n_common) >= 0.4
            )
            SELECT r.a, r.b, r.n_common AS n_common_raw, round(r.jac, 6) AS jaccard_raw,
                   c.n_common AS n_common_capped,
                   (c.a IS NULL) AS dropped_by_cap,
                   n_hot_grams
            FROM rawp r LEFT JOIN capp c USING (a, b) CROSS JOIN nhot
        """,
        # lsh_bucket_skew: from the STAGED band relation DuckDB mirrors
        # both cap behaviors — drop (buckets 2..cap expand, >cap vanish)
        # and escalate (>cap buckets emit min/max anchor edges) — plus
        # the oversized-bucket count.
        "lsh_bucket_skew": f"""
            WITH b AS (SELECT * FROM read_parquet('{_aux_glob("skew_bands_" + _oracle_sf())}')),
            sz AS (
              SELECT band_id, band_hash, count(*) AS c,
                     min(doc_id) AS lo, max(doc_id) AS hi
              FROM b GROUP BY 1, 2
            ),
            n_over AS (SELECT count(*) AS n_oversized_buckets FROM sz WHERE c > {_SKEW_BUCKET_CAP}),
            ok AS (
              SELECT b.doc_id, b.band_id, b.band_hash
              FROM b JOIN sz USING (band_id, band_hash)
              WHERE c BETWEEN 2 AND {_SKEW_BUCKET_CAP}
            ),
            small_pairs AS (
              SELECT l.doc_id AS a, r.doc_id AS b
              FROM ok l JOIN ok r USING (band_id, band_hash)
              WHERE l.doc_id < r.doc_id
            ),
            esc_edges AS (
              SELECT least(b.doc_id, sz.lo) AS a, greatest(b.doc_id, sz.lo) AS b
              FROM b JOIN sz USING (band_id, band_hash)
              WHERE sz.c > {_SKEW_BUCKET_CAP} AND b.doc_id <> sz.lo
              UNION ALL
              SELECT least(b.doc_id, sz.hi), greatest(b.doc_id, sz.hi)
              FROM b JOIN sz USING (band_id, band_hash)
              WHERE sz.c > {_SKEW_BUCKET_CAP} AND b.doc_id <> sz.hi
            ),
            drop_pairs AS (
              SELECT 'drop' AS path, a, b, count(*) AS shared_bands
              FROM small_pairs GROUP BY a, b
            ),
            esc_pairs AS (
              SELECT 'escalate' AS path, a, b, count(*) AS shared_bands
              FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM esc_edges)
              GROUP BY a, b
            )
            SELECT path, a, b, shared_bands, n_oversized_buckets
            FROM (SELECT * FROM drop_pairs UNION ALL SELECT * FROM esc_pairs)
            CROSS JOIN n_over
        """,
        # clips_dup_pairs: DuckDB re-scores every verified pair from the
        # staged sketch codes (n_common/containment/jaccard recomputed
        # via list_intersect) and re-derives the truth flag; shared_bands
        # and lcs_len are pass-through pair attributes.
        "clips_dup_pairs": f"""
            WITH sk AS (SELECT * FROM read_parquet('{_aux_glob("clips_sketches")}')),
            vp AS (SELECT * FROM read_parquet('{_aux_glob("clips_verified")}')),
            tp AS (SELECT * FROM read_parquet('{_aux_glob("clips_truth_pairs")}')),
            scored AS (
              SELECT vp.a, vp.b, vp.shared_bands, vp.lcs_len,
                     len(list_intersect(sa.codes_text, sb.codes_text))
                       + len(list_intersect(sa.codes_audio, sb.codes_audio)) AS nc,
                     sa.size AS za, sb.size AS zb
              FROM vp
              JOIN sk sa ON sa.clip_id = vp.a
              JOIN sk sb ON sb.clip_id = vp.b
            )
            SELECT s.a, s.b, s.shared_bands, CAST(nc AS INT) AS n_common,
                   round(nc * 1.0 / least(za, zb), 6) AS containment,
                   round(nc * 1.0 / (za + zb - nc), 6) AS jaccard,
                   s.lcs_len,
                   (tp.a IS NOT NULL) AS is_true_dup
            FROM scored s
            LEFT JOIN tp ON tp.a = s.a AND tp.b = s.b
        """,
        # clips_streaming_flags: the STREAM's accumulated flags (Spark
        # side) must equal the BATCH pipeline's verified pair set; the
        # oracle re-derives that set from the staged batch tables,
        # re-scoring n_common/containment/jaccard from the sketch codes
        # exactly as in clips_dup_pairs.
        "clips_streaming_flags": f"""
            WITH sk AS (SELECT * FROM read_parquet('{_aux_glob("clips_sketches")}')),
            vp AS (SELECT * FROM read_parquet('{_aux_glob("clips_verified")}'))
            SELECT vp.a, vp.b, vp.shared_bands,
                   CAST(len(list_intersect(sa.codes_text, sb.codes_text))
                     + len(list_intersect(sa.codes_audio, sb.codes_audio)) AS INT)
                     AS n_common,
                   round((len(list_intersect(sa.codes_text, sb.codes_text))
                     + len(list_intersect(sa.codes_audio, sb.codes_audio))) * 1.0
                     / least(sa.size, sb.size), 6) AS containment,
                   round((len(list_intersect(sa.codes_text, sb.codes_text))
                     + len(list_intersect(sa.codes_audio, sb.codes_audio))) * 1.0
                     / (sa.size + sb.size
                        - len(list_intersect(sa.codes_text, sb.codes_text))
                        - len(list_intersect(sa.codes_audio, sb.codes_audio))), 6)
                     AS jaccard,
                   vp.lcs_len
            FROM vp
            JOIN sk sa ON sa.clip_id = vp.a
            JOIN sk sb ON sb.clip_id = vp.b
        """,
        # clips_discordant: DuckDB re-derives BOTH per-domain Jaccards
        # from the staged sketch codes for every verified pair, applies
        # the same hi/lo/min-size classification rule as
        # operators/discordance.py, and joins the planted transform
        # labels (T8 -> label_noise, T7 -> rerecording by construction).
        "clips_discordant": f"""
            WITH sk AS (SELECT * FROM read_parquet('{_aux_glob("clips_sketches")}')),
            vp AS (SELECT * FROM read_parquet('{_aux_glob("clips_verified")}')),
            tf AS (SELECT * FROM read_parquet('{_aux_glob("clips_transforms")}')),
            scored AS (
              SELECT vp.a, vp.b,
                     len(list_intersect(sa.codes_text, sb.codes_text)) AS it,
                     len(list_intersect(sa.codes_audio, sb.codes_audio)) AS ia,
                     len(sa.codes_text) AS nta, len(sb.codes_text) AS ntb,
                     len(sa.codes_audio) AS naa, len(sb.codes_audio) AS nab
              FROM vp
              JOIN sk sa ON sa.clip_id = vp.a
              JOIN sk sb ON sb.clip_id = vp.b
            ), j AS (
              SELECT a, b,
                     it * 1.0 / greatest(nta + ntb - it, 1) AS tj,
                     ia * 1.0 / greatest(naa + nab - ia, 1) AS aj,
                     least(nta, ntb) AS mnt, least(naa, nab) AS mna
              FROM scored
            )
            SELECT j.a, j.b,
                   round(tj, 6) AS text_jaccard,
                   round(aj, 6) AS audio_jaccard,
                   CASE WHEN aj >= 0.85 AND mna >= 10 AND tj < 0.5
                          THEN 'label_noise'
                        WHEN tj >= 0.85 AND mnt >= 10 AND aj < 0.5
                          THEN 'rerecording'
                        ELSE 'concordant' END AS modality_class,
                   ta.transform AS transform_a,
                   tb.transform AS transform_b
            FROM j
            JOIN tf ta ON ta.clip_id = j.a
            JOIN tf tb ON tb.clip_id = j.b
        """,
        # clips_landmark_pairs: DuckDB mirrors the whole match plan over
        # the staged landmark postings — hot-code cap, hash self-join,
        # offset-histogram vote, (votes DESC, dt ASC) rank, threshold,
        # truth flag — so only the numpy peak/hash kernel is upstream of
        # the value check.
        "clips_landmark_pairs": f"""
            WITH lm AS (SELECT * FROM read_parquet('{_aux_glob("clips_landmarks")}')),
            tp AS (SELECT * FROM read_parquet('{_aux_glob("clips_truth_pairs")}')),
            ok AS (
              SELECT lhash FROM lm
              GROUP BY lhash HAVING count(DISTINCT clip_id) <= 64
            ),
            f AS (SELECT lm.* FROM lm JOIN ok USING (lhash)),
            v AS (
              SELECT x.clip_id AS a, y.clip_id AS b,
                     y.t_idx - x.t_idx AS dt, count(*) AS votes
              FROM f x JOIN f y ON x.lhash = y.lhash
                                AND x.clip_id < y.clip_id
              GROUP BY 1, 2, 3
            ),
            best AS (
              SELECT a, b, votes, dt,
                     row_number() OVER (PARTITION BY a, b
                                        ORDER BY votes DESC, dt ASC) AS rn
              FROM v
            )
            SELECT best.a, best.b, votes AS matched_landmarks,
                   CAST(dt AS INT) AS best_offset_frames,
                   (tp.a IS NOT NULL) AS is_true_dup
            FROM best
            LEFT JOIN tp ON tp.a = best.a AND tp.b = best.b
            WHERE rn = 1 AND votes >= 16
        """,
        # clips_snippet_search: same mirrored chain as
        # clips_landmark_pairs, asymmetric (query postings vs index
        # postings, cap on the index side only), plus the expectation
        # flag (self-source or planted-dup via least/greatest pair key).
        "clips_snippet_search": f"""
            WITH ix AS (SELECT * FROM read_parquet('{_aux_glob("clips_landmarks")}')),
            q AS (SELECT * FROM read_parquet('{_aux_glob("clips_snippet_landmarks")}')),
            tp AS (SELECT * FROM read_parquet('{_aux_glob("clips_truth_pairs")}')),
            ok AS (
              SELECT lhash FROM ix
              GROUP BY lhash HAVING count(DISTINCT clip_id) <= 64
            ),
            fix AS (SELECT ix.* FROM ix JOIN ok USING (lhash)),
            nq AS (SELECT clip_id AS query_id, count(*) AS n_q FROM q GROUP BY 1),
            v AS (
              SELECT q.clip_id AS query_id, fix.clip_id AS clip_id,
                     fix.t_idx - q.t_idx AS dt, count(*) AS votes
              FROM q JOIN fix ON q.lhash = fix.lhash
              GROUP BY 1, 2, 3
            ),
            best AS (
              SELECT query_id, clip_id, votes, dt,
                     row_number() OVER (PARTITION BY query_id, clip_id
                                        ORDER BY votes DESC, dt ASC) AS rn
              FROM v
            )
            SELECT best.query_id, best.clip_id,
                   votes AS matched_landmarks,
                   round(votes * 1.0 / nq.n_q, 6) AS score,
                   CAST(dt AS INT) AS best_offset_frames,
                   (best.query_id = best.clip_id OR tp.a IS NOT NULL)
                     AS is_expected
            FROM best
            JOIN nq ON nq.query_id = best.query_id
            LEFT JOIN tp ON tp.a = least(best.query_id, best.clip_id)
                        AND tp.b = greatest(best.query_id, best.clip_id)
            WHERE rn = 1 AND votes >= 4 AND votes >= 0.3 * nq.n_q
        """,
        # clips_quality_gates: every counter aggregate and gate verdict
        # recomputed with integer SQL from the staged frame counters +
        # clip metadata (thresholds inline: -50 dBFS silence, 0.999 FS
        # clip, -40 dBFS mean loudness, 1% clip ppm, 50% silence ppm,
        # 2-1000 chars/sec rate band as passed by the query).
        "clips_quality_gates": f"""
            WITH fs AS (SELECT * FROM read_parquet('{_aux_glob("clips_frame_stats")}')),
            m AS (SELECT * FROM read_parquet('{_aux_glob("clips_quality_meta")}')),
            agg AS (
              SELECT clip_id, count(*) AS n_frames,
                     CAST(sum(rms_q) AS BIGINT) AS sum_rms,
                     CAST(sum(CASE WHEN rms_q < 3162 THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
                     CAST(sum(CASE WHEN peak_q >= 999000 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
                     CAST(sum(zc) AS BIGINT) AS sum_zc
              FROM fs GROUP BY 1
            ),
            g AS (
              SELECT m.clip_id,
                     COALESCE(agg.n_frames, 0) AS n_frames,
                     CAST(FLOOR(agg.sum_rms / agg.n_frames) AS BIGINT) AS mean_rms_q,
                     CAST(FLOOR(agg.n_silent * 1000000 / agg.n_frames) AS BIGINT) AS silence_ppm,
                     CAST(FLOOR(agg.n_clipped * 1000000 / agg.n_frames) AS BIGINT) AS clip_ppm,
                     agg.sum_zc AS sum_zc,
                     CAST(FLOOR(m.n_chars * 100000 / m.dur_ms) AS BIGINT) AS cps_centi,
                     (agg.n_frames IS NOT NULL) AS pass_decode
              FROM m LEFT JOIN agg USING (clip_id)
            )
            SELECT clip_id, n_frames, mean_rms_q, silence_ppm, clip_ppm,
                   sum_zc, cps_centi, pass_decode,
                   (pass_decode AND mean_rms_q >= 10000) AS pass_loudness,
                   (pass_decode AND clip_ppm <= 10000) AS pass_clipping,
                   (pass_decode AND silence_ppm <= 500000) AS pass_silence,
                   (cps_centi BETWEEN 200 AND 100000) AS pass_rate,
                   (pass_decode AND mean_rms_q >= 10000
                    AND clip_ppm <= 10000 AND silence_ppm <= 500000
                    AND cps_centi BETWEEN 200 AND 100000) AS pass_all
            FROM g
        """,
        # clips_recall_precision: the pipeline's predicted dup pairs and
        # the planted truth pairs are staged; DuckDB re-derives the
        # north-rule recall/precision from the same two tables.
        "clips_recall_precision": f"""
            WITH pred AS (SELECT * FROM read_parquet('{_aux_glob("clips_pred_pairs")}')),
            tp AS (SELECT * FROM read_parquet('{_aux_glob("clips_truth_pairs")}')),
            t AS (SELECT count(*) AS c FROM tp),
            p AS (SELECT count(*) AS c FROM pred),
            h AS (SELECT count(*) AS c FROM tp JOIN pred USING (a, b))
            SELECT t.c AS n_true, p.c AS n_pred, h.c AS n_hit,
                   round(h.c * 1.0 / t.c, 6) AS recall,
                   round(h.c * 1.0 / p.c, 6) AS precision
            FROM t, p, h
        """,
        # clips_chunked_matches: r=1 banding makes Spark's candidate set
        # exhaustive for chunk Jaccard >= 0.5, so the all-pairs scan over
        # the staged chunk sketches reproduces it exactly.
        "clips_chunked_matches": f"""
            WITH cs AS (SELECT * FROM read_parquet('{_aux_glob("clips_chunk_sketches")}')),
            pairs AS (
              SELECT x.clip_id AS a, x.chunk_idx AS a_chunk,
                     y.clip_id AS b, y.chunk_idx AS b_chunk,
                     len(list_intersect(x.codes, y.codes)) AS inter,
                     x.size AS sx, y.size AS sy,
                     x.n_chunks AS nx, y.n_chunks AS ny
              FROM cs x JOIN cs y ON x.clip_id < y.clip_id
            ), scored AS (
              SELECT a, b, a_chunk, b_chunk,
                     inter * 1.0 / greatest(sx + sy - inter, 1) AS chunk_jaccard,
                     inter * 1.0 / greatest(least(sx, sy), 1) AS chunk_containment,
                     nx, ny, least(nx, ny) AS min_n_chunks
              FROM pairs
            )
            SELECT a, b,
                   max(chunk_jaccard) AS best_chunk_jaccard,
                   max(chunk_containment) AS best_chunk_containment,
                   count(DISTINCT (a_chunk, b_chunk)) AS n_matched_chunks,
                   count(DISTINCT CASE WHEN nx <= ny THEN a_chunk ELSE b_chunk END)
                     * 1.0 / min(min_n_chunks) AS matched_chunk_frac
            FROM scored WHERE chunk_jaccard >= 0.5
            GROUP BY a, b
        """,
        # clips_cc_loop: DuckDB independently recomputes connected
        # components from the staged pruned-edge table (recursive
        # transitive closure + min-label) — a second engine's CC checks
        # the distributed loop's intra-cluster pair set
        "clips_cc_loop": f"""
            WITH RECURSIVE
            e AS (SELECT a, b FROM read_parquet('{_aux_glob("clips_cc_edges")}')),
            u AS (
              SELECT a AS src, b AS dst FROM e
              UNION
              SELECT b AS src, a AS dst FROM e
            ),
            reach AS (
              SELECT src AS node, src AS r FROM u
              UNION
              SELECT u.dst AS node, reach.r
              FROM reach JOIN u ON u.src = reach.node
            ),
            lbl AS (SELECT node, min(r) AS cid FROM reach GROUP BY node)
            SELECT x.node AS a, y.node AS b
            FROM lbl x JOIN lbl y ON x.cid = y.cid AND x.node < y.node
        """,
        # clips_matched_spans: merge-regions analog — DuckDB mirrors the
        # gaps-and-islands window plan (running max of end_frame per
        # pair; new island where start clears it by >= min_overlap=1)
        # over the staged matched-chunk + chunk-geometry tables.
        "clips_matched_spans": f"""
            WITH m AS (
              SELECT DISTINCT a, b, b_chunk
              FROM read_parquet('{_aux_glob("clips_chunk_matched")}')
            ),
            geo AS (
              SELECT clip_id AS b, chunk_idx AS b_chunk, start_frame, end_frame
              FROM read_parquet('{_aux_glob("clips_chunk_sketches")}')
            ),
            iv AS (
              SELECT DISTINCT a, b, start_frame, end_frame
              FROM m JOIN geo USING (b, b_chunk)
            ),
            ord AS (
              SELECT a, b, start_frame, end_frame,
                     max(end_frame) OVER (
                       PARTITION BY a, b ORDER BY start_frame, end_frame
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_max
              FROM iv
            ),
            isl AS (
              SELECT a, b, start_frame, end_frame,
                     sum(CASE WHEN prev_max IS NULL
                              OR start_frame > prev_max - 1 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY a, b ORDER BY start_frame, end_frame) AS island
              FROM ord
            ),
            spans AS (
              SELECT a, b, island,
                     min(start_frame) AS span_start,
                     max(end_frame) AS span_end,
                     count(*) AS n_chunks_in_span
              FROM isl GROUP BY a, b, island
            ),
            bf AS (
              SELECT clip_id AS b, max(end_frame) AS b_frames
              FROM read_parquet('{_aux_glob("clips_chunk_sketches")}')
              GROUP BY 1
            )
            SELECT s.a, s.b, s.span_start, s.span_end, s.n_chunks_in_span,
                   round(sum(s.span_end - s.span_start)
                           OVER (PARTITION BY s.a, s.b)
                         / CAST(bf.b_frames AS DOUBLE), 6) AS coverage_frac
            FROM spans s JOIN bf USING (b)
        """,
        # clips_depth_gate: DuckDB re-derives the whole stage-3 gate
        # (quantized per-chunk depth sums, rel-depth stdev, pass/fail,
        # re-singletoning) from the staged matched-chunk + truth-label
        # tables — integer depth sums make the math engine-exact.
        "clips_depth_gate": f"""
            WITH m AS (SELECT * FROM read_parquet('{_aux_glob("clips_chunk_matched")}')),
            L AS (SELECT * FROM read_parquet('{_aux_glob("clips_truth_labels")}')),
            nck AS (
              SELECT DISTINCT clip_id, n_chunks
              FROM read_parquet('{_aux_glob("clips_chunk_sketches")}')
            ),
            intra AS (
              SELECT m.* FROM m
              JOIN L la ON m.a = la.clip_id
              JOIN L lb ON m.b = lb.clip_id
              WHERE la.cluster_id = lb.cluster_id
            ),
            depth AS (
              SELECT clip_id, chunk_idx, SUM(w) AS d FROM (
                SELECT a AS clip_id, a_chunk AS chunk_idx,
                       CAST(round(chunk_jaccard * 1000000) AS BIGINT) AS w FROM intra
                UNION ALL
                SELECT b, b_chunk,
                       CAST(round(chunk_jaccard * 1000000) AS BIGINT) FROM intra
              ) GROUP BY 1, 2
            ),
            stats AS (
              SELECT d.clip_id,
                     -- HUGEINT keeps the squared-term aggregation exact
                     -- (bigint d*d overflows on realistic dense clusters,
                     -- mirroring the Spark side's decimal(38,0) fix); only
                     -- the final ratio drops to double, same as Spark
                     sqrt(greatest(
                       CAST(SUM(CAST(d.d AS HUGEINT) * d.d) AS DOUBLE)
                       / (CAST(SUM(d.d) AS DOUBLE) * CAST(SUM(d.d) AS DOUBLE))
                       * any_value(n.n_chunks)
                       - 1.0, 0.0)) AS rel_depth_std,
                     any_value(n.n_chunks) AS n_chunks
              FROM depth d JOIN nck n USING (clip_id)
              GROUP BY d.clip_id
            )
            SELECT L.clip_id,
                   CASE WHEN (s.rel_depth_std IS NULL OR s.n_chunks < 2
                              OR s.rel_depth_std <= 2.0)
                        THEN L.cluster_id ELSE L.clip_id END AS cluster_id,
                   round(coalesce(s.rel_depth_std, 0.0), 6) AS rel_depth_std,
                   (s.rel_depth_std IS NULL OR s.n_chunks < 2
                    OR s.rel_depth_std <= 2.0) AS depth_gate_passed
            FROM L LEFT JOIN stats s ON L.clip_id = s.clip_id
        """,
        # clips_sketch_stats: the raw sketch CODES are kernel output a
        # SQL oracle cannot re-derive — but their derivable INVARIANTS
        # are checkable (kmcp's own `_info.txt` stats sidecar precedent,
        # `kmcp/cmd/compute.go:453-457`): the kernel's size/n_text/
        # n_audio counters must equal the staged code-array lengths, and
        # decode_ok must equal the codec-support predicate (wav/pcm/flac
        # real-decode; lossy rows flow through false).  A run whose
        # kernel miscounts, or whose lossy rows crash instead of
        # flowing through, cannot hash-match.
        "clips_sketch_stats": f"""
            WITH sk AS (SELECT * FROM read_parquet('{_aux_glob("clips_sketches")}')),
            m AS (SELECT * FROM read_parquet('{_aux_glob("clips_meta")}'))
            SELECT m.clip_id,
                   len(sk.codes_text) + len(sk.codes_audio) AS size,
                   len(sk.codes_text) AS n_text,
                   len(sk.codes_audio) AS n_audio,
                   m.codec IN ('wav', 'pcm_s16le', 'flac') AS decode_ok
            FROM m JOIN sk USING (clip_id)
            ORDER BY m.clip_id
        """,
    }


def _langid_sql() -> str:
    from kmcp_spark.operators.text import LANG_MARKERS

    parts = ["SELECT doc_id"]
    langs = sorted(LANG_MARKERS)
    for lang in langs:
        lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        parts.append(
            f", round(len([t for t in toks if list_contains([{lst}], t)]) * 1.0"
            f" / greatest(len(toks), 1), 6) AS score_{lang}"
        )
    sql = (
        "WITH w AS (SELECT doc_id,"
        " regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),"
        " s AS (" + "".join(parts) + " FROM w) SELECT doc_id, "
        + ", ".join(f"score_{lg}" for lg in langs)
        + ", CASE "
    )
    # argmax with first-seen-language tie-break (strictly-greater chain,
    # mirroring the Spark fold in lang_id)
    conds = []
    for i, lang in enumerate(langs):
        others_before = [f"score_{lg}" for lg in langs[:i]]
        others_after = [f"score_{lg}" for lg in langs[i + 1 :]]
        # winner = earliest lang attaining the max: strictly greater than
        # every earlier lang, >= every later lang
        cond = " AND ".join(
            [f"score_{lang} > {o}" for o in others_before]
            + [f"score_{lang} >= {o}" for o in others_after]
        ) or "TRUE"
        conds.append(f"WHEN {cond} THEN '{lang}'")
    sql += " ".join(conds) + " END AS pred_lang FROM s"
    return sql
