"""Suffix-array LCS correctness vs a brute-force oracle."""

import numpy as np
import pytest

from kmcp_spark.config import PipelineConfig
from kmcp_spark.operators.verify import suffix_array_lcs, verify_pairs


def brute_lcs(a: str, b: str) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


@pytest.mark.parametrize(
    "a,b",
    [
        ("banana", "ananas"),
        ("hello world", "world hello"),
        ("abc", "xyz"),
        ("", "abc"),
        ("same", "same"),
        ("aaaa", "aa"),
        ("the quick brown fox", "a quick brown cat"),
    ],
)
def test_lcs_fixed_cases(a, b):
    assert suffix_array_lcs(a, b) == brute_lcs(a, b)


def test_lcs_random_vs_brute():
    rng = np.random.default_rng(13)
    alpha = "abcd "
    for _ in range(40):
        a = "".join(alpha[i] for i in rng.integers(0, len(alpha), int(rng.integers(1, 60))))
        b = "".join(alpha[i] for i in rng.integers(0, len(alpha), int(rng.integers(1, 60))))
        assert suffix_array_lcs(a, b) == brute_lcs(a, b)


def test_lcs_substring_case():
    a = "prefix COMMONCHUNK suffix"
    b = "COMMONCHUNK"
    assert suffix_array_lcs(a, b) == len(b)


def test_lcs_long_strings_planted_run():
    """Exercise the vectorized rank-level LCP path on strings far past
    the doubling early-exit (book-length vs the <100-char brute cases):
    a planted shared run of known length must be recovered exactly, and
    the small-alphabet background must not beat it."""
    rng = np.random.default_rng(99)
    alpha = "abcdef "
    bg = lambda m: "".join(alpha[i] for i in rng.integers(0, len(alpha), m))
    core = bg(1500)
    a = bg(8000) + core + bg(8000)
    b = bg(3000) + core + bg(3000)
    got = suffix_array_lcs(a, b)
    # background coincidences on a 7-symbol alphabet cap out near
    # log_7(n^2) ~ 10 chars; the planted run dominates by construction
    assert got >= 1500
    assert got < 1500 + 50


def test_lcs_medium_random_vs_brute():
    """Property check at lengths that take several doubling levels
    (the short random test exits after 1-2 levels)."""
    rng = np.random.default_rng(21)
    alpha = "ab"
    for _ in range(10):
        a = "".join(alpha[i] for i in rng.integers(0, 2, 300))
        b = "".join(alpha[i] for i in rng.integers(0, 2, 300))
        assert suffix_array_lcs(a, b) == brute_lcs(a, b)


def test_verify_pairs_lcs_len_matches_suffix_array(spark):
    """Equal transcripts take LCS(x, x) = |x| on the JVM and skip the
    Python LCS; every pair must still carry the exact suffix-array
    answer.  The non-BMP pair pins code-point counting on the JVM side
    (UTF-16 would count the note as 2)."""
    transcripts = {
        "eq1": "the same words",
        "eq2": "the same words",
        "ne1": "banana split",
        "ne2": "ananas split",
        "em1": "",
        "em2": "",
        "nl1": None,
        "nl2": None,
        "uc1": "\U0001f3b5 la la",
        "uc2": "\U0001f3b5 la la",
        "uc3": "\U0001f3b5 la lo",
    }
    pairs = [
        ("eq1", "eq2"),
        ("ne1", "ne2"),
        ("em1", "em2"),
        ("em1", "ne1"),
        ("nl1", "nl2"),
        ("nl1", "eq1"),
        ("uc1", "uc2"),
        ("uc1", "uc3"),
    ]
    clips = spark.createDataFrame(
        list(transcripts.items()), "clip_id string, transcript string"
    )
    # every pair plausible and accepted by its SimHash, so the verdict
    # keeps each row whatever its lcs_len
    scored = spark.createDataFrame(
        [(a, b, 99, 10, 1.0, 1.0, 1.0, 1.0, 1.0, 20, 20, 1.0, 0, 100.0) for a, b in pairs],
        "a string, b string, shared_bands bigint, n_common int, containment double, "
        "tcov double, jaccard double, text_jaccard double, audio_jaccard double, "
        "min_n_audio bigint, min_n_text bigint, est_jaccard double, "
        "simhash_hamming int, similarity_pct double",
    )
    got = {
        (r.a, r.b): r.lcs_len
        for r in verify_pairs(scored, clips, PipelineConfig()).collect()
    }
    want = {
        (a, b): suffix_array_lcs(transcripts[a] or "", transcripts[b] or "")
        for a, b in pairs
    }
    assert got == want
    assert got[("uc1", "uc2")] == 7 and got[("nl1", "nl2")] == 0
