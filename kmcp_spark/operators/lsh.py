"""LSH banding + candidate-pair generation (the `kmcp index`+`search`
probe analog).

kmcp packs k-mer sets into a COBS bit-sliced Bloom matrix and probes it
with vectorized popcount (`kmcp/cmd/index.go:923-1331`,
`kmcp/cmd/util-db-search.go:1434-7409`).  The Spark-native equivalent is
MinHash-LSH banding: the signature is cut into ``bands`` bands of
``rows_per_band`` values; each band hashes to a bucket; any two ids
sharing a bucket in any band become a candidate pair.  Candidate
generation is then ONE shuffle (a window over the band key) instead of
an index structure.

Two kernels live here and nowhere else:

  - ``band_rows``: signature -> (id, band_id, band_hash) rows, for the
    clip pipeline, the document path and the chunk path;
  - ``bucket_pairs``: (band_id, band_hash, id) rows -> capped pairs
    (a, b, shared_bands), for every banded relation, the SimHash
    bit-slice bands included.

Skew policy (the analog of kmcp's block-size escalation 256→8→1 for
oversized groups, `kmcp/cmd/index.go:787-894` / flags `:1453-1463`):
buckets whose membership exceeds ``max_bucket`` would pair-expand
quadratically in one task.  ``bucket_pairs`` drops them;
``candidate_pairs`` (the near-dup chain ``plans.pipeline.near_dup_pairs``
that the clip pipeline, streaming and the driver fixture share)
ESCALATES them instead — each member is linked to the
bucket's deterministic min/max anchors (O(size) edges), so a giant
*near*-dup class that floods every band still reconnects through
verified anchor edges in connected components.  Oversized buckets are
also counted, by an observation on the escalation branch that the same
candidates write fills (no silent caps, no extra job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from kmcp_spark.config import LSHConfig


def band_rows(src: DataFrame, bands: int, rows_per_band: int,
              id_col: str, sig_col: str = "minhash",
              band_offset: int = 0) -> DataFrame:
    """(id, band_id, band_hash) band relation from minhash signatures.

    THE MinHash banding kernel: one recipe serves the clip pipeline
    (``band_buckets``), the document path (``dedup.doc_band_rows``)
    and the chunk path (``chunking.chunk_candidate_pairs``) so the hash
    recipe can never desynchronize between them — all three paths and
    the staged skew-oracle tables derive from this exact expression.
    The band hash is computed JVM-side:
    ``xxhash64(band_id, slice(sig))`` — no Python in this stage at all.
    The whole band array is one Spark SQL string, so building the plan
    takes ~16 driver→JVM round trips; an unrolled Column tree of 32
    bands took ~2.3k (110–170 ms a pass).

    ``sig_col``/``band_offset`` let domain-scoped signatures (text-only
    / audio-only MinHash, SketchConfig.domain_perm) reuse the same
    kernel under disjoint band_id ranges, so combined and domain bands
    coexist in one bucket table without key collisions.
    """
    structs = ", ".join(
        f"struct({band_offset + b} AS band_id, xxhash64({band_offset + b}, "
        f"slice(`{sig_col}`, {b * rows_per_band + 1}, {rows_per_band})) AS band_hash)"
        for b in range(bands)
    )
    return (
        src.where(f"`{sig_col}` IS NOT NULL")
        .selectExpr(f"`{id_col}`", f"explode(array({structs})) AS band")
        .selectExpr(f"`{id_col}`", "band.band_id AS band_id", "band.band_hash AS band_hash")
    )


# band_id ranges for domain-scoped bands (disjoint from the combined
# signature's 0..bands-1 so (band_id, band_hash) keys never cross)
_TEXT_BAND_BASE = 10_000
_AUDIO_BAND_BASE = 20_000


def band_buckets(sketches: DataFrame, lsh: LSHConfig) -> DataFrame:
    """sketches -> buckets(band_id int, band_hash bigint, clip_id string),
    banded by ``lsh.bands`` x ``lsh.rows_per_band``.

    With ``lsh.domain_bands > 0`` the combined-signature bands are unioned
    with per-domain bands over ``minhash_text`` / ``minhash_audio``
    (NULL domain signatures — empty shingle sets, decode failures —
    emit no rows), so single-modality duplicates become candidates:
    a re-recorded script (text Jaccard 1.0, audio ~0) collides in
    every text band regardless of how much audio dilutes the combined
    signature.  Downstream shape is unchanged — one groupBy shuffle
    over the same (band_id, band_hash) key space."""
    rows_per_band, domain_bands = lsh.rows_per_band, lsh.domain_bands
    out = band_rows(sketches, lsh.bands, rows_per_band, "clip_id")
    if domain_bands > 0:
        if "minhash_text" not in sketches.columns:
            raise ValueError(
                "domain_bands > 0 requires domain signatures: sketch with "
                "SketchConfig.domain_perm >= domain_bands * rows_per_band "
                f"(= {domain_bands * rows_per_band})"
            )
        out = out.union(
            band_rows(sketches, domain_bands, rows_per_band, "clip_id",
                      sig_col="minhash_text", band_offset=_TEXT_BAND_BASE)
        ).union(
            band_rows(sketches, domain_bands, rows_per_band, "clip_id",
                      sig_col="minhash_audio", band_offset=_AUDIO_BAND_BASE)
        )
    return out


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """Bucket-size histogram (the `utils index-density` analog)."""
    return (
        buckets.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .orderBy("bucket_size")
    )


def _annotate(buckets: DataFrame, id_col: str) -> DataFrame:
    """Every band row annotated with its bucket's size and min/max
    anchors by ONE whole-partition window over the band key.  Every
    consumer branches off that same exchange (a second branch is a
    ReusedExchange); a sizes-aggregation + join + self-join shape
    measured 2-3 s more driver-serial work per leg.  Anchors no consumer
    reads are pruned from the window by Catalyst."""
    w = "OVER (PARTITION BY band_id, band_hash)"
    return buckets.selectExpr(
        "band_id",
        "band_hash",
        f"`{id_col}`",
        f"count(*) {w} AS bucket_size",
        f"min(`{id_col}`) {w} AS anchor_lo",
        f"max(`{id_col}`) {w} AS anchor_hi",
    )


def _expand(ann: DataFrame, max_bucket: int, id_col: str) -> DataFrame:
    """(a, b) rows, one per bucket with 1 < size <= max_bucket that two
    distinct ids share.

    The size filter runs BEFORE collect_list so member arrays are
    bounded by max_bucket (a 10^7-member bucket flows through the
    window's spillable sort, never into an in-memory array).  The
    groupBy keys match the window partitioning, so no second exchange."""
    grouped = (
        ann.where(f"bucket_size > 1 AND bucket_size <= {max_bucket}")
        .groupBy("band_id", "band_hash")
        .agg(F.expr(f"collect_list(`{id_col}`) AS members"))
    )
    return (
        grouped.selectExpr("members", "posexplode(members) AS (i, ca)")
        .selectExpr("ca", "explode(slice(members, i + 2, size(members))) AS cb")
        # an id can appear twice in one bucket (e.g. streaming unions
        # bands_new with prior band tables and a clip is re-delivered);
        # such (x, x) rows are not pairs
        .where("ca != cb")
        # (least, greatest) so the nondeterministic collect_list order
        # never leaks into results
        .selectExpr("least(ca, cb) AS a", "greatest(ca, cb) AS b")
    )


def bucket_pairs(
    buckets: DataFrame, max_bucket: int, id_col: str = "clip_id"
) -> DataFrame:
    """(band_id, band_hash, id) rows -> pairs(a, b, shared_bands) under
    the bucket cap: THE pair-expansion kernel.

    Every bucket with 1 < size <= max_bucket expands to all its i<j
    pairs; buckets above the cap are DROPPED.  ``shared_bands`` counts
    how many bands voted for the pair (the analog of kmcp's per-target
    match count A2).  ``id_col`` may be of any orderable type, a struct
    included."""
    return (
        _expand(_annotate(buckets, id_col), max_bucket, id_col)
        .groupBy("a", "b")
        .agg(F.expr("count(*) AS shared_bands"))
    )


def candidate_pairs(
    buckets: DataFrame, max_bucket: int = 2000
) -> tuple[DataFrame, Observation]:
    """buckets -> (pairs(a, b, shared_bands), oversized): the
    ``bucket_pairs`` expansion plus the escalation of oversized buckets.

    Oversized buckets are ESCALATED, not dropped (the analog of kmcp's
    block-size escalation 256→8→1 for oversized groups,
    `kmcp/cmd/index.go:787-894`): every member of an oversized bucket is
    linked to the bucket's two deterministic anchors (min and max
    clip_id).  That is O(size) edges instead of the O(size^2) expansion,
    and if the bucket really is one giant near-dup class the anchor
    edges pass exact verification and connected components restores the
    full cluster; members whose anchor edges fail verify were
    false-positive collisions and are correctly not clustered.  Anchors
    come from the same window as the bucket sizes, so no per-bucket
    sort — the escalation stays linear even for a 10^7-member bucket.

    ``oversized`` is an ``Observation``: ``n_oversized_buckets`` counts
    the escalated buckets during the first action over ``pairs``, with
    no cache and no extra job.  Read it only if that action produced
    rows: with no candidates AQE replaces the executed stage by an empty
    relation and ``Observation.get`` raises on the empty row.  A bucket
    of two or more distinct ids emits anchor edges, so no rows means no
    such bucket.
    """
    ann = _annotate(buckets, "clip_id")
    # escalation edges: member -> {min, max} anchor of its oversized
    # bucket — a narrow select off the annotated rows, no join.  A
    # bucket's rows add 1/bucket_size up to exactly one even when an id
    # repeats in it (streaming re-delivery), where counting anchor_lo
    # rows counts it twice; rounding the double sum is exact up to
    # ~10^8 over-cap rows.
    oversized = Observation()
    over = ann.where(f"bucket_size > {max_bucket}").observe(
        oversized,
        F.expr("coalesce(CAST(round(sum(1D / bucket_size)) AS BIGINT), 0)")
        .alias("n_oversized_buckets"),
    )
    escalated = (
        over.selectExpr("clip_id", "explode(array(anchor_lo, anchor_hi)) AS anchor")
        .where("clip_id != anchor")
        .selectExpr("least(clip_id, anchor) AS a", "greatest(clip_id, anchor) AS b")
    )
    pairs = (
        _expand(ann, max_bucket, "clip_id")
        .union(escalated)
        .groupBy("a", "b")
        .agg(F.expr("count(*) AS shared_bands"))
    )
    return pairs, oversized
