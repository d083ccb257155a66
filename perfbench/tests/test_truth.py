"""The output checker on hand-built outputs: a right answer passes and
each kind of wrong answer fails."""

import pandas as pd
import pytest

from truth import check_clusters, check_flags, content_hash, pair_scores


def _truth() -> pd.DataFrame:
    """20 planted families of 3 (the first two members of each are
    byte-identical), 20 near-miss controls and 20 singletons."""
    rows = []
    for f in range(20):
        fam = f"c{f * 10:04d}"
        for j in range(3):
            blob = f"fam{f}" if j < 2 else f"fam{f}-gain"
            rows.append((f"c{f * 10 + j:04d}", fam, content_hash(blob.encode(), "t")))
        rows.append((f"c{f * 10 + 3:04d}", f"c{f * 10 + 3:04d}", content_hash(b"nm%d" % f, "t")))
        rows.append((f"c{f * 10 + 4:04d}", f"c{f * 10 + 4:04d}", content_hash(b"s%d" % f, "t")))
    return pd.DataFrame(rows, columns=["clip_id", "family", "content"])


def _clusters(labels: dict[str, str]) -> pd.DataFrame:
    df = pd.DataFrame({"clip_id": list(labels), "cluster_id": list(labels.values())})
    df["cluster_size"] = df.groupby("cluster_id")["clip_id"].transform("size")
    df["is_canonical"] = df["clip_id"] == df.groupby("cluster_id")["clip_id"].transform("min")
    return df


def _right(truth):
    return dict(zip(truth["clip_id"], truth["family"]))


def test_right_answer_passes():
    truth = _truth()
    assert check_clusters(_clusters(_right(truth)), truth) == []


def test_dropped_member_fails():
    truth = _truth()
    out = _clusters(_right(truth)).iloc[1:]
    assert any("missing" in e for e in check_clusters(out, truth))


def test_duplicated_row_fails():
    truth = _truth()
    out = _clusters(_right(truth))
    out = pd.concat([out, out.iloc[:1]])
    assert any("more than once" in e for e in check_clusters(out, truth))


def test_merged_near_miss_fails():
    truth = _truth()
    labels = _right(truth)
    labels["c0003"] = "c0000"  # the near-miss control joins family c0000
    errs = check_clusters(_clusters(labels), truth)
    assert any("precision" in e for e in errs)


def test_split_family_fails_recall():
    truth = _truth()
    labels = _right(truth)
    for f in range(3):
        labels[f"c{f * 10 + 2:04d}"] = f"c{f * 10 + 2:04d}"
    assert any("recall" in e for e in check_clusters(_clusters(labels), truth))


def test_stale_output_fails():
    """Output of a different (earlier, smaller) input in the same directory."""
    truth = _truth()
    stale = _clusters(_right(truth.iloc[:40]))
    assert any("missing" in e for e in check_clusters(stale, truth))


def test_split_byte_identical_group_fails():
    truth = _truth()
    labels = _right(truth)
    labels["c0001"] = "c0001"
    assert any("byte-identical" in e for e in check_clusters(_clusters(labels), truth))


def test_wrong_size_and_canonical_fail():
    truth = _truth()
    out = _clusters(_right(truth))
    bad_size = out.assign(cluster_size=out["cluster_size"].where(out["clip_id"] != "c0000", 9))
    assert any("cluster_size" in e for e in check_clusters(bad_size, truth))
    bad_canon = out.assign(is_canonical=out["clip_id"].isin(["c0001"]) | (out["is_canonical"] & (out["clip_id"] != "c0000")))
    assert any("minimum clip_id" in e for e in check_clusters(bad_canon, truth))
    two = out.assign(is_canonical=out["is_canonical"] | (out["clip_id"] == "c0001"))
    assert any("exactly one canonical" in e for e in check_clusters(two, truth))


def test_pair_scores_counts():
    truth = _truth()
    labels = pd.Series(_right(truth))
    assert pair_scores(truth, labels) == (1.0, 1.0, 60, 60)
    one = pd.Series("all", index=truth["clip_id"])
    recall, precision, n_true, n_found = pair_scores(truth, one)
    assert (recall, n_true, n_found) == (1.0, 60, 100 * 99 // 2)
    assert precision == pytest.approx(60 / 4950)


def _right_flags(truth) -> pd.DataFrame:
    """One flag per planted pair."""
    rows = []
    for _fam, g in truth.groupby("family"):
        ids = sorted(g["clip_id"])
        rows += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    return pd.DataFrame(rows, columns=["a", "b"])


def test_right_flags_pass():
    truth = _truth()
    assert check_flags(_right_flags(truth), truth) == []


def test_pair_flagged_twice_fails():
    truth = _truth()
    flags = _right_flags(truth)
    again = flags.iloc[:1].rename(columns={"a": "b", "b": "a"})  # same pair, other order
    assert any("more than once" in e for e in check_flags(pd.concat([flags, again]), truth))


def test_cross_family_flags_fail_precision():
    truth = _truth()
    bad = pd.DataFrame({"a": [f"c{f * 10:04d}" for f in range(20)],
                        "b": [f"c{f * 10 + 3:04d}" for f in range(20)]})
    assert any("flag precision" in e for e in check_flags(pd.concat([_right_flags(truth), bad]), truth))


def test_missing_flags_fail_recall():
    truth = _truth()
    # byte-identical groups alone leave every gain member unjoined
    assert any("union-find pair recall" in e for e in check_flags(pd.DataFrame(columns=["a", "b"]), truth))
