"""Candidate verification (the `kmcp search` scoring analog + the north
rule's suffix-array substring check).

kmcp scores each (query, target) by matched-k-mer count, qCov, tCov and
Jaccard, then applies thresholds (`kmcp/cmd/util-db-search.go:90-92`,
`:7466-7493`).  Here:

  - exact scaled-set scores: |A∩B| on the FracMinHash ``codes`` arrays —
    computed JVM-side with ``array_intersect``/``size`` (no Python);
    qCov analog = containment = inter/min(|A|,|B|),
    tCov analog = inter/max(|A|,|B|), jaccard = inter/|A∪B|.
  - signature-estimated Jaccard: fraction of equal MinHash positions,
    JVM-side ``zip_with`` + ``aggregate``.
  - SimHash Hamming: ``bit_count(a ^ b)`` — JVM-side.
  - suffix-array longest-common-substring on transcripts: pairs with
    equal transcripts take LCS(x, x) = |x| from the JVM's ``length``;
    only pairs with UNEQUAL transcripts reach the Arrow-batched
    ``mapInPandas`` LCS.  This is the one Python stage, and it runs only
    on the unequal share of the plausible candidates.

The dup verdict:  a pair is a near-duplicate iff
    containment >= min_containment
    AND (simhash_hamming <= max_simhash_hamming
         OR lcs_len >= min_common_substring).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from kmcp_spark.config import PipelineConfig
from kmcp_spark.runtime import drop_zip_finders

VERIFIED_SCHEMA_EXTRA = ", lcs_len int"


def suffix_array_lcs(a: str, b: str) -> int:
    """Length of the longest common substring of a and b.

    Suffix array over ``a + SEP + b`` built by prefix doubling with numpy
    argsort (O(n log^2 n)); the LCP of each lexicographically adjacent
    suffix pair is then computed FROM the stored doubling-rank levels
    (greedy binary decomposition: try extending the common prefix by the
    largest level first), answer = max LCP between adjacent suffixes from
    different halves.  Fully vectorized — the earlier Kasai pass walked
    characters in a Python loop (O(total chars) interpreted work per
    pair); this is O(n log n) numpy end-to-end, ~40x faster on 100 kB
    transcripts and bit-identical on the brute-force property tests.

    Rank-equality soundness at full length: ``rank_L[i] == rank_L[j]``
    with ``i+L <= n`` and ``j+L <= n`` holds iff ``s[i:i+L] == s[j:j+L]``
    (induction over levels; the ``-1`` padding key used for truncated
    tails can never equal a real rank, so a truncated suffix never
    aliases a full-length substring).  The unique SEP means no common
    prefix can span the boundary, so no explicit separator check is
    needed.
    """
    if not a or not b:
        return 0
    s = a + "\x00" + b
    n = len(s)
    boundary = len(a)  # index of SEP
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    rank = np.unique(codes, return_inverse=True)[1].astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    levels: list[tuple[int, np.ndarray]] = [(1, rank)]
    k = 1
    while k < n and rank[sa[-1]] != n - 1:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        new_rank = np.empty(n, dtype=np.int64)
        prev = (rank[order], key2[order])
        changed = np.ones(n, dtype=bool)
        changed[1:] = (prev[0][1:] != prev[0][:-1]) | (prev[1][1:] != prev[1][:-1])
        new_rank[order] = np.cumsum(changed) - 1
        rank = new_rank
        sa = order
        k <<= 1
        levels.append((k, rank))
    # adjacent-pair LCP from the doubling ranks: levels are powers of two
    # summing to >= any possible LCP, so greedy largest-first extension
    # reconstructs the exact common-prefix length (binary decomposition)
    x, y = sa[1:], sa[:-1]
    cross = (x < boundary) != (y < boundary)
    if not cross.any():
        return 0
    x, y = x[cross], y[cross]
    h = np.zeros(len(x), dtype=np.int64)
    for length, rk in reversed(levels):
        xi, yi = x + h, y + h
        ok = (xi + length <= n) & (yi + length <= n)
        xi_c = np.where(ok, xi, 0)
        yi_c = np.where(ok, yi, 0)
        eq = ok & (rk[xi_c] == rk[yi_c])
        h[eq] += length
    return int(h.max())


def score_pairs(pairs: DataFrame, sketches: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """pairs(a,b,shared_bands) ⨝ sketches x2 -> scored pairs (JVM-only).

    Two shuffle joins on clip_id (sketches are pre-partitioned by the
    caller so both joins reuse one exchange).  The projection is Spark
    SQL text: one py4j call per column instead of a Column tree built
    call by call.
    """
    sk = sketches.select(
        "clip_id", "codes_text", "codes_audio", "minhash", "simhash", "size",
        "n_text", "n_audio",
    )
    j = (
        pairs.join(sk.alias("ska"), F.expr("a = ska.clip_id"))
        .join(sk.alias("skb"), F.expr("b = skb.clip_id"))
    )
    it = "size(array_intersect(ska.codes_text, skb.codes_text))"
    ia = "size(array_intersect(ska.codes_audio, skb.codes_audio))"
    inter = f"({it} + {ia})"  # domains are hash-disjoint: combined ∩ adds up
    containment = f"({inter} / least(ska.size, skb.size))"
    est_j = (
        "aggregate(zip_with(ska.minhash, skb.minhash, (x, y) -> CAST(x = y AS INT)),"
        " 0, (acc, v) -> acc + v) / size(ska.minhash)"
    )
    return j.selectExpr(
        "a",
        "b",
        "shared_bands",
        f"{inter} AS n_common",
        f"{containment} AS containment",
        f"{inter} / greatest(ska.size, skb.size) AS tcov",
        f"{inter} / (ska.size + skb.size - {inter}) AS jaccard",
        f"{it} / greatest(ska.n_text + skb.n_text - {it}, 1) AS text_jaccard",
        f"{ia} / greatest(ska.n_audio + skb.n_audio - {ia}, 1) AS audio_jaccard",
        "least(ska.n_audio, skb.n_audio) AS min_n_audio",
        "least(ska.n_text, skb.n_text) AS min_n_text",
        f"{est_j} AS est_jaccard",
        "bit_count(ska.simhash ^ skb.simhash) AS simhash_hamming",
        # X10: the reference's qCov -> sequence-similarity%% cubic model
        # (`kmcp/cmd/cov2simi.go:55`); qCov analog here = containment
        f"{_cov2simi_sql(containment)} AS similarity_pct",
    )


def _cov2simi_sql(q: str) -> str:
    """SQL form of kmcp's published cov->similarity cubic (X10).  The
    ``D`` suffix keeps the literals DOUBLE: bare ``87.456`` parses as a
    DECIMAL in Spark SQL."""
    s = f"87.456D + 26.41D * {q} - 22.008D * {q} * {q} + 7.325D * {q} * {q} * {q}"
    return f"round(least(greatest({s}, 0.0D), 100.0D), 3)"


def _dbl(x: float) -> str:
    """A Spark SQL DOUBLE literal (``0.7`` alone would parse as DECIMAL)."""
    return f"{float(x)!r}D"


def min_bands_for_fpr(
    bands: int, rows_per_band: int, null_jaccard: float, max_chance_fpr: float
) -> int:
    """Smallest shared-bands threshold t such that an UNRELATED pair
    (true Jaccard <= null_jaccard) reaches t band collisions by chance
    with probability <= max_chance_fpr.

    This is the X9 query-FPR gate wired into the pipeline (kmcp filters
    matches on FPR<=f, `kmcp/cmd/util-db-search.go:7466-7493` /
    `util-fpr.go:32-50`): per-band collision prob for Jaccard s is s^r,
    and the tail P[X >= t], X ~ Binom(bands, s^r), is the chance-match
    probability the threshold caps.
    """
    from kmcp_spark.functions.stats import query_fpr

    p_band = null_jaccard ** rows_per_band
    for t in range(1, bands + 1):
        if query_fpr(bands, t, p_band) <= max_chance_fpr:
            return t
    return bands


def shared_bands_floor(cfg: PipelineConfig) -> int:
    """The shared-bands gate every candidate path applies:
    ``max(min_shared_bands, min_bands_for_fpr(...))`` — the configured
    floor, raised to the X9 chance-FPR floor of the banding."""
    v = cfg.verify
    return max(
        v.min_shared_bands,
        min_bands_for_fpr(
            cfg.lsh.bands, cfg.lsh.rows_per_band, v.null_jaccard, v.max_chance_fpr
        ),
    )


def verify_pairs(
    scored: DataFrame, clips: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Threshold + suffix-array verification -> verified dup pairs.

    The cheap JVM filters run first so the Python LCS stage sees only
    plausible pairs (predicate ordering = kmcp's filter-before-parse
    pushdown, `kmcp/cmd/util-profile.go:105-133`).
    """
    v = cfg.verify
    eff_min_bands = shared_bands_floor(cfg)
    audio_path = (
        f"(audio_jaccard >= {_dbl(v.min_domain_jaccard)}"
        f" AND min_n_audio >= {v.min_domain_size})"
    )
    # one modality is (near-)identical and substantial: T4 (same audio,
    # edited transcript) or T2/T3 (same transcript)
    domain_path = (
        f"({audio_path} OR (text_jaccard >= {_dbl(v.min_domain_jaccard)}"
        f" AND min_n_text >= {v.min_domain_size}))"
    )
    plausible = scored.where(
        f"shared_bands >= {eff_min_bands}"
        f" AND (containment >= {_dbl(v.min_containment)} OR {domain_path})"
    )
    joined = plausible.join(
        clips.selectExpr("clip_id AS a", "transcript AS ta"), "a"
    ).join(clips.selectExpr("clip_id AS b", "transcript AS tb"), "b")
    # LCS(x, x) = |x|: equal transcripts get their answer on the JVM
    # (`length` counts code points, as Python's `len` does) and cross the
    # Arrow boundary as nulls, so only unequal pairs reach the Python
    # LCS.  A null transcript compares null, so it keeps lcs_len = 0.
    withl = joined.withColumns(
        {
            "ta": F.expr("CASE WHEN ta = tb THEN NULL ELSE ta END"),
            "tb": F.expr("CASE WHEN ta = tb THEN NULL ELSE tb END"),
            "lcs_len": F.expr("CASE WHEN ta = tb THEN length(ta) END"),
        }
    )

    out_schema = (
        "a string, b string, shared_bands bigint, n_common int, containment double, "
        "tcov double, jaccard double, text_jaccard double, audio_jaccard double, "
        "min_n_audio bigint, min_n_text bigint, "
        "est_jaccard double, simhash_hamming int, similarity_pct double, lcs_len int"
    )

    def lcs_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            if not len(pdf):
                continue
            todo = pdf["lcs_len"].isna().to_numpy()
            lcs = pdf["lcs_len"].fillna(0).to_numpy(dtype=np.int64)
            lcs[todo] = [
                suffix_array_lcs(x, y) for x, y in zip(pdf["ta"][todo], pdf["tb"][todo])
            ]
            out = pdf.drop(columns=["ta", "tb"])
            out["lcs_len"] = lcs
            yield out

    verified = withl.mapInPandas(lcs_stage, schema=out_schema)
    return verified.where(
        f"simhash_hamming <= {v.max_simhash_hamming}"
        f" OR lcs_len >= {v.min_common_substring} OR {audio_path}"
    )
