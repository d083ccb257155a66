"""Document-table dedup operators (the training-data-pipeline family).

These run over a generic ``documents(doc_id, text, ...)`` table — the
same algorithms the clip pipeline uses, re-expressed over text-only
rows and (where possible) in pure JVM DataFrame ops so a SQL oracle can
reproduce them exactly:

  - exact dedup: md5(text) hash-groupBy (one shuffle, partial agg).
  - n-gram Jaccard pairs: explode distinct word n-grams → self-join on
    gram → pair-count agg → Jaccard from per-doc gram counts.  This is
    the exact-verification shape (kmcp's qCov/Jaccard scoring,
    `kmcp/cmd/util-db-search.go:90-92`) without the sketch.
  - MinHash-LSH pairs: pandas-UDF signatures → bands expanded into
    candidate pairs by ``lsh.bucket_pairs`` → exact re-verification of
    candidates — the full sketch → index-probe → verify path of the
    clip pipeline, over text.
  - SimHash pairs: 64-bit fingerprints, Hamming filter over candidates
    from the same kernel.

Scale notes: every join here keys on either a gram hash or a band
hash; both distribute.  The n-gram self-join caps hot grams (stopword
shingles) exactly like lsh.candidate_pairs caps hot buckets.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from kmcp_spark.functions.minhash import minhash_signatures
from kmcp_spark.functions.shingle import (
    ngram_hashes_from_symbols,
    word_ngram_hashes_batch,
    word_symbols,
)
from kmcp_spark.functions.simhash import simhash64
from kmcp_spark.operators.lsh import band_rows, bucket_pairs
from kmcp_spark.runtime import drop_zip_finders, widen_narrow_scan


def exact_dup_groups(docs: DataFrame, only_dups: bool = False) -> DataFrame:
    """Byte-identical text groups: (text_hash, n_docs, min_doc_id).

    ``only_dups`` keeps groups with >1 member; the default returns every
    group (the full dedup hash table — dedup = keep row where
    doc_id == min_doc_id of its group)."""
    g = docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )
    return g.filter(F.col("n_docs") > 1) if only_dups else g


def _gram_array(n: int):
    """Distinct word-n-gram array expression over ``text`` (JVM-only).

    Docs with fewer than ``n`` words yield an EMPTY array: without the
    guard, ``sequence(0, size-n)`` with a negative stop counts down
    through -1 and ``slice(words, 0, n)`` throws ("SQL array indices
    start at 1").  The empty-array semantics also match the oracle's
    ``WHERE len(ws) >= n`` predicate (short docs contribute no grams).
    """
    words = F.split(F.col("text"), " ")
    return F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, gram) rows: distinct space-joined word n-grams, JVM-only.

    Built from ``split`` + ``sequence`` + ``transform`` + ``explode`` so
    DuckDB can mirror it with a list comprehension.  This relation
    carries gram TEXT; the Jaccard/containment consumers reduce it to
    ``xxhash64`` int64 keys before the shuffle (see ``_gram_tables`` —
    the joins only count matches, and the int64 key cuts shuffle bytes
    ~2.5x; a colliding pair needs ~2^32 distinct grams to reach 50%
    odds, so the text-joining DuckDB oracle still matches).
    """
    return docs.select("doc_id", F.explode(_gram_array(n)).alias("gram"))


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.4, max_gram_docs: int = 10_000
) -> DataFrame:
    """Exact word-n-gram Jaccard >= threshold pairs, all JVM-side.

    Hot grams appearing in more than ``max_gram_docs`` docs are excluded
    from pair expansion (documented skew cap; at n>=3 real corpora only
    degenerate boilerplate crosses it, and such pairs surface through
    their other grams).
    """
    g, sizes, g_ok = _gram_tables(docs, n, max_gram_docs)
    pairs = (
        g_ok.alias("l")
        .join(g_ok.alias("r"), "gram")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_grams", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_grams", "nb"), "b")
        .select(
            "a",
            "b",
            "n_common",
            (F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _gram_tables(docs: DataFrame, n: int, max_gram_docs: int):
    """Shared, persisted gram relation: Catalyst does not deduplicate
    common subplans, so without this the (doc_id, gram) explosion is
    recomputed for every consumer — observed 6 full scans of the input
    in one query plan.  MEMORY_AND_DISK persist keeps it to one scan;
    Spark's LRU eviction reclaims it.

    Grams are reduced to ``xxhash64`` int64 keys before the shuffle: the
    self-join and frequency groupBy only COUNT matches, so the gram text
    itself is dead weight — an int64 key cuts the shuffled/cached bytes
    ~2.5x vs the avg ~20-byte gram string at n=3.  Downstream output
    (pairs + jaccard/containment) is unchanged, so the DuckDB oracle
    (which joins on gram TEXT) still matches; a 64-bit collision would
    need ~2^32 distinct grams in one corpus to appear at even 50% odds
    for a single colliding pair."""
    from pyspark import StorageLevel

    from kmcp_spark.runtime import defer_unpersist, release_deferred

    # sweep the previous query's internal caches (deferred-release
    # protocol, runtime.py): without this a long-lived session running
    # many document queries accumulates every query's gram relations.
    release_deferred()
    g = defer_unpersist(
        word_ngrams_df(docs, n)
        .select("doc_id", F.xxhash64("gram").alias("gram"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    gram_freq = g.groupBy("gram").agg(F.count("*").alias("df"))
    g_ok = defer_unpersist(
        g.join(
            gram_freq.filter(F.col("df") <= max_gram_docs).select("gram"), "gram"
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    return g, sizes, g_ok


def ngram_cap_audit(
    docs: DataFrame, n: int = 3, threshold: float = 0.4, max_gram_docs: int = 50
) -> DataFrame:
    """Per-pair audit of the hot-gram cap: raw vs capped n-gram Jaccard
    from ONE shared gram relation.

    Returns, for every pair the UNCAPPED scorer emits at ``threshold``:
    (a, b, n_common_raw, jaccard_raw, n_common_capped, dropped_by_cap,
    n_hot_grams).  ``n_common_capped`` is null (and ``dropped_by_cap``
    true) when excluding grams with df > ``max_gram_docs`` pushes the
    pair below threshold — the cap's firing is observable per row, and
    ``n_hot_grams`` (count of capped-out grams) rides on every row so a
    run where the cap never fired cannot hash-match one where it did.

    Unlike calling ``ngram_jaccard_pairs`` twice, both legs branch off
    the same persisted gram/size/df tables (one text scan, one df
    aggregation) — the skew-oracle query dropped 45 s -> seconds at
    sf0.1 when the two independent gram builds were fused (r6).
    Reference analog: kmcp's oversized-block escalation is likewise an
    audited cap, not a silent drop (`kmcp/cmd/index.go:787-894`).
    """
    from pyspark import StorageLevel

    from kmcp_spark.runtime import defer_unpersist, release_deferred

    release_deferred()
    g = defer_unpersist(
        word_ngrams_df(docs, n)
        .select("doc_id", F.xxhash64("gram").alias("gram"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    freq = defer_unpersist(
        g.groupBy("gram").agg(F.count("*").alias("df")).persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_hot = freq.filter(F.col("df") > max_gram_docs).agg(
        F.count("*").alias("n_hot_grams")
    )

    def pair_counts(grams: DataFrame) -> DataFrame:
        return (
            grams.alias("l")
            .join(grams.alias("r"), "gram")
            .filter(F.col("l.doc_id") < F.col("r.doc_id"))
            .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
            .agg(F.count("*").alias("n_common"))
        )

    def scored(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(
                sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_grams", "na"), "a"
            )
            .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_grams", "nb"), "b")
            .withColumn(
                "jaccard", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
            )
            .filter(F.col("jaccard") >= threshold)
        )

    raw = scored(pair_counts(g))
    g_ok = g.join(freq.filter(F.col("df") <= max_gram_docs).select("gram"), "gram")
    capped = scored(pair_counts(g_ok))
    return (
        raw.select(
            "a",
            "b",
            F.col("n_common").alias("n_common_raw"),
            F.round("jaccard", 6).alias("jaccard_raw"),
        )
        .join(
            capped.select("a", "b", F.col("n_common").alias("n_common_capped")),
            ["a", "b"],
            "left",
        )
        .withColumn("dropped_by_cap", F.col("n_common_capped").isNull())
        .crossJoin(n_hot)
    )


_SIG_SCHEMA = "doc_id bigint, minhash array<bigint>, simhash bigint, n_grams bigint"


def doc_signatures(
    docs: DataFrame,
    n: int = 3,
    num_perm: int = 128,
    master_seed: int = 42,
    with_gram_hashes: bool = False,
) -> DataFrame:
    """MinHash + SimHash signatures over word n-grams (Arrow-batched).

    ``with_gram_hashes`` additionally emits the distinct 64-bit gram
    hash set per doc (``gram_h``), letting the LSH verify join score
    candidates from this SAME relation — one pass over the text instead
    of a second gram scan (kmcp likewise verifies on hashed k-mers, not
    re-derived strings, `kmcp/cmd/util-db-search.go:939-964`)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            if not len(pdf):
                continue
            sets = word_ngram_hashes_batch(pdf["text"], n)
            sig = minhash_signatures(sets, num_perm, master_seed)
            sh = simhash64(sets)
            cols = {
                "doc_id": pdf["doc_id"].to_numpy(),
                "minhash": list(sig.view(np.int64)),
                "simhash": sh.view(np.int64),
                "n_grams": np.fromiter(
                    (len(s) for s in sets), dtype=np.int64, count=len(sets)
                ),
            }
            if with_gram_hashes:
                cols["gram_h"] = [s.astype(np.uint64).view(np.int64) for s in sets]
            yield pd.DataFrame(cols)

    src = widen_narrow_scan(docs.select("doc_id", "text"))
    schema = _SIG_SCHEMA + (", gram_h array<bigint>" if with_gram_hashes else "")
    return src.mapInPandas(run, schema=schema)


def lsh_candidates(
    signatures: DataFrame, bands: int, rows_per_band: int, max_bucket: int = 10_000
) -> DataFrame:
    """Band-join candidate pairs (a, b, shared_bands) from signatures.

    Bands through ``lsh.band_rows`` and expands pairs through
    ``lsh.bucket_pairs``, the kernels the clip pipeline uses: one window
    exchange over the band key, the bucket cap applied before any member
    array is collected, then the pair-count agg.  Buckets above the cap
    are dropped here (the clip pipeline's ``lsh.candidate_pairs``
    escalates instead; for the document queries the other 63 bands make
    the miss probability negligible, see ``minhash_lsh_dup_pairs``)."""
    return bucket_pairs(
        doc_band_rows(signatures, bands, rows_per_band), max_bucket, "doc_id"
    )


def doc_band_rows(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band_id, band_hash) band relation from minhash
    signatures — the shared front half of ``lsh_candidates``, exposed so
    the cap-semantics oracle can STAGE the band relation and have DuckDB
    mirror everything downstream of the xxhash64 banding (DuckDB has no
    Spark-compatible xxhash64).
    Delegates to the single banding kernel (``lsh.band_rows``) so the
    document path can never desynchronize from the clip pipeline's."""
    return band_rows(signatures, bands, rows_per_band, "doc_id")


def minhash_lsh_dup_pairs(
    docs: DataFrame,
    n: int = 3,
    num_perm: int = 128,
    threshold: float = 0.4,
    high_recall: bool = True,
) -> DataFrame:
    """MinHash-LSH candidates re-verified with exact n-gram Jaccard.

    ``high_recall=True`` uses r=2 banding over all 128 positions (64
    bands): miss probability (1-s^2)^64 <= 1.4e-5 at the s=0.4
    threshold and < 1e-12 at s=0.6 — the result is the exact-Jaccard
    pair set (SQL-oracle checkable) with negligible miss risk, while
    unrelated pairs (background s ~ 0.02) collide with prob ~ 2.6e-2,
    so candidate volume stays near-linear.  r=1 banding was tried and
    rejected: ANY shared minimum makes a candidate, and at background
    s=0.02 that is 1-(0.98)^128 ~ 0.92 of ALL pairs — the "LSH" became
    an all-pairs join.  ``high_recall=False`` uses classic 32x4 banding
    (the production configuration; probabilistic recall 1-(1-s^4)^32).
    """
    # empty-gram docs carry the all-max sentinel signature and would
    # collide with each other in every band — they have no content to
    # verify, so they are excluded from banding outright
    from pyspark import StorageLevel

    from kmcp_spark.runtime import defer_unpersist, release_deferred

    release_deferred()  # sweep prior doc-query caches
    # ONE pass over the text: the signature kernel also emits the
    # distinct gram-hash set, and that single persisted relation feeds
    # both the banding (doc_id + minhash only — gram arrays never enter
    # the band shuffle) and the verify joins
    sigs = defer_unpersist(
        doc_signatures(docs, n=n, num_perm=num_perm, with_gram_hashes=True)
        .filter(F.col("n_grams") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _lsh_verify_pairs(sigs, num_perm, threshold, high_recall)


def _lsh_verify_pairs(
    sigs: DataFrame, num_perm: int, threshold: float, high_recall: bool = True
) -> DataFrame:
    """Band + exact-verify tail shared by the single-k and multi-k paths.

    ``sigs`` must carry (doc_id, minhash, gram_h, n_grams) with
    n_grams > 0 rows only.  Exact verification touches CANDIDATES ONLY:
    the candidate pairs join back to the per-doc gram-hash arrays and
    score with ``array_intersect`` — cost is O(candidates), never the
    all-pairs gram self-join (kmcp scores only probed targets, and on
    hashed k-mers, `kmcp/cmd/util-db-search.go:939-964`).  64-bit gram
    hashes stand in for gram text: collision odds across a corpus's
    shared-gram tests are ~1e-13, the same accepted risk as the
    xxhash64 exact-dup short-circuit.
    """
    if high_recall:
        cand = lsh_candidates(sigs.select("doc_id", "minhash"), bands=num_perm // 2, rows_per_band=2)
    else:
        cand = lsh_candidates(sigs.select("doc_id", "minhash"), bands=num_perm // 4, rows_per_band=4)
    sa = sigs.select(
        F.col("doc_id").alias("a"), F.col("gram_h").alias("_ha"), F.col("n_grams").alias("_na")
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"), F.col("gram_h").alias("_hb"), F.col("n_grams").alias("_nb")
    )
    inter = F.size(F.array_intersect("_ha", "_hb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            # bigint to match the SQL oracle's count(*) dtype exactly
            inter.cast("bigint").alias("n_common"),
            (inter / (F.col("_na") + F.col("_nb") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_band_candidates(
    sigs: DataFrame, n_bands: int, max_bucket: int = 100_000
) -> DataFrame:
    """Candidate pairs from banding the 64-bit SimHash itself.

    Pigeonhole exactness (Manku et al., WWW 2007): a pair differing in at
    most ``n_bands - 1`` bits must agree exactly on at least one band, so
    for ``max_hamming <= n_bands - 1`` the candidate set is a strict
    superset of the answer — the hamming filter downstream makes the
    result identical to the all-pairs scan (SQL-oracle checkable).
    The bit-slice bands expand through the shared ``lsh.bucket_pairs``
    kernel; buckets above ``max_bucket`` are dropped.
    """
    width = 64 // n_bands
    mask = [
        (1 << (width + (64 - width * n_bands if b == n_bands - 1 else 0))) - 1
        for b in range(n_bands)
    ]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask[b]))
                .alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    buckets = sigs.select("doc_id", F.explode(band_structs).alias("bd")).select(
        "doc_id", "bd.band_id", "bd.band_hash"
    )
    return bucket_pairs(buckets, max_bucket, "doc_id").select("a", "b")


def simhash_dup_pairs(
    docs: DataFrame,
    n: int = 3,
    max_hamming: int = 8,
    n_bands: int = 9,
) -> DataFrame:
    """Pairs whose SimHash fingerprints are within ``max_hamming`` bits.

    Candidates come from banding the fingerprint into ``n_bands`` chunks
    (exact for ``max_hamming <= n_bands - 1`` by pigeonhole — the default
    9 bands cover hamming <= 8), then the exact ``bit_count(xor)`` filter
    runs on candidates only.  Empty-gram docs are excluded: their
    fingerprint is the degenerate 0 and every such pair would tie at
    hamming 0 despite sharing no content.
    """
    # num_perm=8: only the simhash/n_grams columns are consumed here, so
    # the (unused) minhash signature is kept minimal
    sigs = doc_signatures(docs, n=n, num_perm=8).filter(F.col("n_grams") > 0)
    return simhash_pairs_from_sigs(sigs, max_hamming=max_hamming, n_bands=n_bands)


def simhash_pairs_from_sigs(
    sigs: DataFrame, max_hamming: int = 8, n_bands: int = 9
) -> DataFrame:
    """The pairing half of ``simhash_dup_pairs`` over a precomputed
    (doc_id, simhash) table — banding candidates + exact hamming filter.
    Split out so the join/filter plan can be oracle-checked against a SQL
    all-pairs scan of the same signature table."""
    if max_hamming > n_bands - 1:
        raise ValueError(f"need n_bands >= max_hamming+1 for exactness ({n_bands=} {max_hamming=})")
    cand = simhash_band_candidates(sigs, n_bands)
    s = sigs.select("doc_id", "simhash")
    return (
        cand.join(s.withColumnRenamed("doc_id", "a").withColumnRenamed("simhash", "sh_a"), "a")
        .join(s.withColumnRenamed("doc_id", "b").withColumnRenamed("simhash", "sh_b"), "b")
        .select(
            "a",
            "b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


_MULTI_SIG_SCHEMA = (
    "doc_id bigint, gram_n int, minhash array<bigint>, gram_h array<bigint>, n_grams bigint"
)


def multi_doc_signatures(
    docs: DataFrame,
    ks: tuple[int, ...],
    num_perm: int = 128,
    master_seed: int = 42,
) -> DataFrame:
    """Signatures for ALL n-gram widths in ONE pass over the text.

    The batch is tokenized and token-hashed once (``word_symbols``);
    each k then derives its gram sets from the shared symbol stream —
    one row per (doc, gram_n).  This replaces len(ks) full text scans +
    kernels with one (the kmcp analog: one k-mer iterator family reused
    across the ks-descending search loop,
    `kmcp/cmd/util-db-search.go:1037-1107`).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            if not len(pdf):
                continue
            sym, counts = word_symbols(pdf["text"])
            doc_ids = pdf["doc_id"].to_numpy()
            for k in ks:
                sets = ngram_hashes_from_symbols(sym, counts, k)
                sig = minhash_signatures(sets, num_perm, master_seed)
                yield pd.DataFrame(
                    {
                        "doc_id": doc_ids,
                        "gram_n": np.full(len(sets), k, dtype=np.int32),
                        "minhash": list(sig.view(np.int64)),
                        "gram_h": [s.astype(np.uint64).view(np.int64) for s in sets],
                        "n_grams": np.fromiter(
                            (len(s) for s in sets), dtype=np.int64, count=len(sets)
                        ),
                    }
                )

    src = widen_narrow_scan(docs.select("doc_id", "text"))
    return src.mapInPandas(run, schema=_MULTI_SIG_SCHEMA)


def multi_k_dup_pairs(
    docs: DataFrame,
    ks: tuple[int, ...] = (5, 4, 3),
    threshold: float = 0.4,
    num_perm: int = 128,
) -> DataFrame:
    """Multi-k probe: the kmcp multiple-k search analog.

    kmcp probes each query at several k-mer sizes in DESCENDING order
    and keeps the first (largest) k that produces matches
    (`kmcp/cmd/util-db-search.go:763-1025` loops ks desc).  A pair is
    reported at the LARGEST n where it passes the threshold (tagged
    ``gram_n``); smaller n only contribute pairs the larger shingles
    missed — catching near-dups whose shared text is too fragmented to
    form long common n-grams.  Each level is one left-anti join against
    the union of larger levels (len(ks) is small and static).

    All levels' signatures come from ONE shared text pass
    (:func:`multi_doc_signatures`, persisted); per level only the
    banding + candidate-verify joins run — the r2 version re-ran the
    full text scan + signature kernel per k (3 scans, slowest query in
    the bench).
    """
    from pyspark import StorageLevel

    from kmcp_spark.runtime import defer_unpersist, release_deferred

    release_deferred()  # sweep prior doc-query caches
    msigs = defer_unpersist(
        multi_doc_signatures(docs, tuple(sorted(ks, reverse=True)), num_perm=num_perm)
        .filter(F.col("n_grams") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out: DataFrame | None = None
    for n in sorted(ks, reverse=True):
        # persist each level: the anti-join consumes every PRIOR level's
        # plan again, and Catalyst does not dedupe common subplans
        p = defer_unpersist(
            _lsh_verify_pairs(
                msigs.filter(F.col("gram_n") == n).drop("gram_n"),
                num_perm,
                threshold,
            )
            .select("a", "b", "n_common", "jaccard", F.lit(n).alias("gram_n"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if out is None:
            out = p
        else:
            out = out.unionByName(
                p.join(out.select("a", "b"), ["a", "b"], "left_anti")
            )
    assert out is not None
    return out


def ngram_containment_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.6, max_gram_docs: int = 10_000
) -> DataFrame:
    """Containment (qCov analog, `kmcp/cmd/util-db-search.go:90-92`):
    |A∩B| / min(|A|,|B|) >= threshold — catches truncation/subset dups
    that plain Jaccard misses (detection path T3 in FIXTURES.md)."""
    g, sizes, g_ok = _gram_tables(docs, n, max_gram_docs)
    pairs = (
        g_ok.alias("l")
        .join(g_ok.alias("r"), "gram")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_grams", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_grams", "nb"), "b")
        .select(
            "a", "b", "n_common",
            (F.col("n_common") / F.least("na", "nb")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 3,
    min_common: int = 1,
) -> DataFrame:
    """Benchmark decontamination scan: flag corpus docs sharing word
    n-grams with a (small) held-out benchmark set — the standard
    training-data hygiene step (GPT-3 appendix C's 13-gram overlap rule;
    at n=13 a single shared gram is a near-certain leak).  The kmcp
    analog is `search` probing queries against a reference index
    (`kmcp/cmd/util-db-search.go:763-1025`) with the roles reversed:
    here the BENCHMARK is the indexed side.

    Scale shape: the benchmark gram relation is tiny (benchmarks are
    thousands of rows, not billions) and broadcast; the corpus side is
    one scan + one broadcast hash join + one partial-agg groupBy — no
    shuffle of corpus grams.  Returns one row per contaminated doc:
    (doc_id, n_contaminated_grams, n_bench_docs) — grams shared with
    ANY benchmark doc, counted distinct; docs in ``bench`` itself are
    excluded from the output.
    """
    bench_ids = bench.select("doc_id")
    # int64 gram keys on both sides (same collision/oracle argument as
    # _gram_tables): shrinks the broadcast table and the probe column
    bg = (
        word_ngrams_df(bench, n)
        .select(F.col("doc_id").alias("bench_id"), F.xxhash64("gram").alias("gram"))
    )
    dg = word_ngrams_df(docs.join(bench_ids, "doc_id", "left_anti"), n).select(
        "doc_id", F.xxhash64("gram").alias("gram")
    )
    hits = dg.join(F.broadcast(bg), "gram")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_contaminated_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .filter(F.col("n_contaminated_grams") >= min_common)
    )


def repeated_spans(
    docs: DataFrame, n: int = 6, min_df: int = 2, max_gram_docs: int = 10_000
) -> DataFrame:
    """Cross-document repeated-passage mining (exact-substring dedup).

    The token-level shape of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better"): any word ``n``-gram appearing
    in at least ``min_df`` DISTINCT documents marks its positions as
    duplicated text, and runs of overlapping duplicated grams merge
    into maximal spans per document — the same interval-merge semantics
    as the reference's ``kmcp utils merge-regions``
    (`kmcp/cmd/merge-regions.go:60-67`), applied to token positions
    instead of genome coordinates.  Where the suffix-array paper builds
    one global index, this is the Spark-native equivalent: a
    document-frequency shuffle over int64 gram keys.

    Plan shape (100-TB audit): one scan -> posexplode -> xxhash64 gram
    keys; one map-side-combined groupBy(gram) computing exact distinct
    doc counts; one semi-join of positions against qualifying grams
    (AQE skew-join handles hot grams; grams above ``max_gram_docs``
    docs are excluded — the house boilerplate cap, same contract as
    :func:`ngram_jaccard_pairs`); one doc_id-partitioned window for the
    gaps-and-islands merge.  No Python rows, no driver collect; output
    is O(duplicated spans), not O(gram instances).

    Returns (doc_id, span_start, span_end, span_len_tokens,
    n_dup_grams): token-inclusive span bounds, covered length, and how
    many duplicated grams support the span.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from kmcp_spark.runtime import defer_unpersist, release_deferred

    # house cache protocol (see _gram_tables): sweep the previous
    # document-family query's internal caches before registering ours
    release_deferred()
    words = F.split(F.col("text"), " ")
    base = docs.select("doc_id", words.alias("ws")).filter(F.size("ws") >= n)
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - n),
                lambda i: F.concat_ws(" ", F.slice("ws", i + 1, n)),
            )
        ).alias("pos", "gram"),
    )
    # int64 keys before the shuffle (contract and collision analysis in
    # _gram_tables); the relation feeds both the df count and the join,
    # so persist to keep it at one scan of the input
    g = defer_unpersist(
        grams.select("doc_id", "pos", F.xxhash64("gram").alias("gram"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df_tab = g.groupBy("gram").agg(F.countDistinct("doc_id").alias("df"))
    dup_pos = g.join(
        df_tab.filter((F.col("df") >= min_df) & (F.col("df") <= max_gram_docs))
        .select("gram"),
        "gram",
    ).select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup_pos.withColumn(
        "brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > n - 1),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("brk").over(w))
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + n).alias("span_len_tokens"),
            F.count("*").alias("n_dup_grams"),
        )
        .drop("island")
    )
