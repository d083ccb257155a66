"""Output checks against the generator's planted truth.

Everything here is the benchmark's own arithmetic: pairs are counted
from a contingency table of (planted family, output cluster) cells, and
byte-identical rows are found with a content hash computed here, never
with the program's own pair or hash helpers.  All inputs are pandas
frames, so the checks can be tested on hand-built outputs.

Truth frame columns: ``clip_id``, ``family`` (planted cluster id; a
singleton or near-miss control has its own id) and ``content`` (the
hash from :func:`content_hash`).
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pandas as pd

MIN_RECALL = 0.99
MIN_PRECISION = 0.99


def content_hash(payload: bytes, transcript: str) -> str:
    """Identity of a row's bytes and transcript (length-prefixed, so no
    split of one into the other collides)."""
    h = hashlib.blake2b(digest_size=16)
    h.update(len(payload).to_bytes(8, "little"))
    h.update(payload)
    h.update(transcript.encode())
    return h.hexdigest()


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_scores(truth: pd.DataFrame, labels: pd.Series) -> tuple[float, float, int, int]:
    """(recall, precision, truth pairs, found pairs) of a clustering.

    ``labels`` maps clip_id -> cluster label.  A pair is any two clips
    with the same label; its truth is whether they share a family."""
    lab = labels.reindex(truth["clip_id"].to_numpy())
    cells = Counter(zip(truth["family"].to_numpy(), lab.to_numpy()))
    hit = sum(_pairs(n) for n in cells.values())
    n_true = sum(_pairs(n) for n in Counter(truth["family"].to_numpy()).values())
    n_found = sum(_pairs(n) for n in Counter(lab.to_numpy()).values())
    recall = hit / n_true if n_true else 1.0
    precision = hit / n_found if n_found else 1.0
    return recall, precision, n_true, n_found


def check_clusters(clusters: pd.DataFrame, truth: pd.DataFrame) -> list[str]:
    """Problems with one batch pass's ``clusters`` output (empty = pass).

    ``clusters`` has the pipeline's columns ``clip_id``, ``cluster_id``,
    ``cluster_size`` and ``is_canonical``."""
    errs: list[str] = []
    ids = clusters["clip_id"]
    if ids.duplicated().any():
        errs.append(f"{int(ids.duplicated().sum())} clips appear more than once")
    want, got = set(truth["clip_id"]), set(ids)
    if want != got:
        errs.append(f"{len(want - got)} input clips missing, {len(got - want)} unknown clips present")
    if errs:
        return errs
    size = clusters.groupby("cluster_id")["clip_id"].transform("size")
    if (size != clusters["cluster_size"]).any():
        errs.append(f"{int((size != clusters['cluster_size']).sum())} rows with a wrong cluster_size")
    canon = clusters[clusters["is_canonical"].astype(bool)]
    n_canon = canon.groupby("cluster_id").size().reindex(clusters["cluster_id"].unique(), fill_value=0)
    if (n_canon != 1).any():
        errs.append(f"{int((n_canon != 1).sum())} clusters without exactly one canonical member")
    else:
        least = clusters.groupby("cluster_id")["clip_id"].min()
        if (canon.set_index("cluster_id")["clip_id"].reindex(least.index) != least).any():
            errs.append("a canonical member is not the minimum clip_id of its cluster")
    labels = clusters.set_index("clip_id")["cluster_id"]
    joined = truth.assign(label=labels.reindex(truth["clip_id"].to_numpy()).to_numpy())
    split = joined.groupby("content")["label"].nunique()
    if (split > 1).any():
        errs.append(f"{int((split > 1).sum())} byte-identical groups split across clusters")
    errs += _score_errs(*pair_scores(truth, labels))
    return errs


def check_flags(flags: pd.DataFrame, truth: pd.DataFrame) -> list[str]:
    """Problems with every flag a stream drain wrote (empty = pass).

    ``flags`` has one row per flagged pair, columns ``a`` and ``b``.  No
    pair may be flagged twice; flags must join members of one planted
    family; and union-find over the flags plus the byte-identical groups
    must recover the planted pairs."""
    errs: list[str] = []
    pairs = pd.DataFrame({"a": flags[["a", "b"]].min(axis=1), "b": flags[["a", "b"]].max(axis=1)})
    twice = int(pairs.duplicated().sum())
    if twice:
        errs.append(f"{twice} pairs flagged more than once")
    fam = truth.set_index("clip_id")["family"]
    known = pairs["a"].isin(fam.index) & pairs["b"].isin(fam.index)
    if not known.all():
        errs.append(f"{int((~known).sum())} flags name unknown clips")
        return errs
    same = fam.reindex(pairs["a"]).to_numpy() == fam.reindex(pairs["b"]).to_numpy()
    if len(pairs) and same.mean() < MIN_PRECISION:
        errs.append(f"flag precision {same.mean():.4f} < {MIN_PRECISION} ({len(pairs)} flags)")
    parent = {c: c for c in truth["clip_id"]}

    def root(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    edges = list(zip(pairs["a"], pairs["b"]))
    for group in truth.groupby("content")["clip_id"]:
        ids = list(group[1])
        edges += [(ids[0], x) for x in ids[1:]]
    for a, b in edges:
        parent[root(a)] = root(b)
    labels = pd.Series({c: root(c) for c in parent})
    recall, _, n_true, _ = pair_scores(truth, labels)
    if recall < MIN_RECALL:
        errs.append(f"union-find pair recall {recall:.4f} < {MIN_RECALL} ({n_true} truth pairs)")
    return errs


def _score_errs(recall: float, precision: float, n_true: int, n_found: int) -> list[str]:
    errs = []
    if recall < MIN_RECALL:
        errs.append(f"pair recall {recall:.4f} < {MIN_RECALL} ({n_true} truth pairs)")
    if precision < MIN_PRECISION:
        errs.append(f"pair precision {precision:.4f} < {MIN_PRECISION} ({n_found} found pairs)")
    return errs
