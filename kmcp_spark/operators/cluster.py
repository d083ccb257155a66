"""Cluster resolution: hash-min connected components (the `kmcp profile`
analog — its 4-stage filter + EM loop resolves multi-mapped queries into
final assignments, `kmcp/cmd/profile.go:761-2568`; our analog resolves
verified dup pairs into duplicate clusters).

`connected_components` is the one resolver: weak-edge pruning ->
components -> EM reassignment.  A graph of at most ``driver_max_edges``
pairs is collected once and resolved in driver Python; a larger one
runs the distributed chain below.

Distributed CC: iterative label propagation over the undirected pair graph.
    label(v) <- min(label(v), min over neighbors label(u))   (hash-min)
    label(v) <- label(label(v))                              (pointer jump)
implemented as a DataFrame join loop with
  - convergence check per iteration (count of changed labels == 0; the
    analog of the EM Δ-threshold stop, `kmcp/cmd/profile.go:2552-2568`),
    and a hard error if ``max_iters`` rounds pass without convergence —
    a silently-split cluster is a recall bug, not a warning,
  - lineage truncation via ``localCheckpoint`` every round so plans
    stay O(1) deep,
  - O(log d) rounds for diameter d: hash-min alone is one hop per round
    (O(d) rounds on a chain); the pointer-jumping pass composes the
    label map with itself each round, doubling propagation distance
    (the star-contraction idea of Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC 2014).

Output: clusters(clip_id string, cluster_id string, cluster_size bigint,
                  is_canonical boolean)
where cluster_id is the lexicographically-smallest member id and the
canonical member is that clip (deterministic representative pick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kmcp_spark.runtime import local_relation


def connected_components(
    pairs: DataFrame,
    all_nodes: DataFrame | None = None,
    max_iters: int = 50,
    driver_max_edges: int = 100_000,
    prune_alpha: float = 0.0,
    em_iters: int = 0,
) -> DataFrame:
    """pairs(a,b[,containment]) -> labels(clip_id, cluster_id): the one cluster
    resolver, prune -> connected components -> EM reassignment.

    ``all_nodes`` (one column ``clip_id``) adds singleton clusters for
    nodes with no edges; if None, only nodes appearing in pairs get rows.
    ``prune_alpha > 0`` drops weak edges before CC (`prune_weak_edges`);
    ``em_iters > 0`` then reassigns nodes over the UNPRUNED edges
    (`reassign_by_support`).  Both read the ``containment`` score; with
    the defaults the pairs need only ``a`` and ``b``.

    Small-graph fast path: one bounded probe collects at most
    ``driver_max_edges // 2 + 1`` pair rows (each pair is two directed
    edges, so the cap is on directed edges).  At or under the cap,
    pruning, union-find and the EM rounds all run in driver Python over
    that one list (`_resolve_on_driver`), and the labels come back
    as one `local_relation` — one collect (1–2 Spark jobs: the
    limit scans partitions incrementally) instead of the distributed
    chain's checkpoint, count and ~2 jobs per round, the standard
    size-gated switch of production CC implementations.  The bound is on
    EDGES (verified dup pairs), not input rows: 100k directed edges is
    ~10 MB on the driver regardless of corpus size.  Above the cap the
    probe's rows are discarded and the distributed chain runs:
    `prune_weak_edges`, the hash-min + pointer-jumping loop
    (`_hash_min_labels`), then `reassign_by_support`.  Both paths are
    equivalence-tested, weighted and unweighted
    (`test_gates_and_escalation.py::test_cc_driver_and_loop_agree`).
    """
    weighted = prune_alpha > 0 or em_iters > 0
    cols = ["a", "b", "containment"] if weighted else ["a", "b"]
    max_pairs = driver_max_edges // 2
    rows = pairs.select(*cols).limit(max_pairs + 1).collect()
    if len(rows) <= max_pairs:
        labels = local_relation(
            pairs.sparkSession,
            _resolve_on_driver(rows, prune_alpha, em_iters).items(),
            "clip_id string, cluster_id string",
        )
        if all_nodes is None:
            return labels
        # labels is bounded by construction (<= driver_max_edges
        # nodes ~ 10 MB): broadcast it so the singleton fill-in is a
        # map-side join — no shuffle of all_nodes
        return (
            all_nodes.select("clip_id")
            .join(F.broadcast(labels), "clip_id", "left")
            .selectExpr("clip_id", "coalesce(cluster_id, clip_id) AS cluster_id")
        )
    labels = _hash_min_labels(
        prune_weak_edges(pairs, alpha=prune_alpha),
        all_nodes,
        max_iters,
    )
    if em_iters > 0:
        labels = reassign_by_support(labels, pairs, iters=em_iters)
    return labels


def _resolve_on_driver(rows: list, alpha: float, em_iters: int) -> dict[str, str]:
    """The distributed chain's driver twin over collected (a, b[, containment])
    rows: `prune_weak_edges`, union-find, then `reassign_by_support`,
    with the same keep rule, min-member cluster ids and argmax/tie rules.

    Scores are non-null (verified containment always is).  Every endpoint
    gets a label; for ``alpha <= 1`` every node keeps its own best edge,
    so this is the node set the distributed chain labels too.  Support
    sums add in row order and Spark's in partition order, so the paths
    can differ only when two supports tie to within float rounding.
    """
    parent: dict[str, str] = {}
    for a, b, *_ in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    kept = rows
    if alpha > 0:
        best: dict[str, float] = {}
        for a, b, s in rows:
            for v in (a, b):
                best[v] = max(best.get(v, s), s)
        kept = [(a, b, s) for a, b, s in rows if s >= alpha * min(best[a], best[b])]

    def find(x: str) -> str:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b, *_ in kept:
        ra, rb = find(a), find(b)
        if ra != rb:  # the smaller root wins: a root is its component's min
            parent[max(ra, rb)] = min(ra, rb)
    labels = {v: find(v) for v in parent}

    for _ in range(em_iters):
        # support[src][cluster] = summed score of src's edges into that cluster
        support: dict[str, dict[str, float]] = {}
        for a, b, s in rows:
            for src, dst in ((a, b), (b, a)):
                per = support.setdefault(src, {})
                per[labels[dst]] = per.get(labels[dst], 0.0) + s
        # argmax support, ties to the smaller cluster id
        labels = {
            v: min(support[v].items(), key=lambda kv: (-kv[1], kv[0]))[0] for v in labels
        }
    return labels


def _hash_min_labels(
    pairs: DataFrame, all_nodes: DataFrame | None, max_iters: int
) -> DataFrame:
    """The distributed hash-min + pointer-jumping loop described in the
    module docstring, over pairs(a,b); ``all_nodes`` as in
    `connected_components`."""
    from kmcp_spark.runtime import persistent_ids, unpersist_ids

    sc = pairs.sparkSession.sparkContext
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    # every round joins the edge relation: materialize it once
    ids0 = persistent_ids(sc)
    edges = edges.localCheckpoint(eager=True)
    edge_ids = persistent_ids(sc) - ids0
    labels = (
        edges.select(F.col("src").alias("clip_id"))
        .distinct()
        .withColumn("cluster_id", F.col("clip_id"))
    )
    prev_round_ids: set[int] = set()
    for it in range(max_iters):
        # candidate new label per node: min over own label and neighbor labels
        nbr_min = (
            edges.join(labels.withColumnRenamed("clip_id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_label"))
            .withColumnRenamed("src", "clip_id")
        )
        new_labels = (
            labels.join(nbr_min, "clip_id", "left")
            .select(
                "clip_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_label", F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.col("nbr_label") < F.col("cluster_id")).alias("changed"),
            )
        )
        # pointer jump: label(v) <- label(label(v)).  Every label value
        # is itself a node id with a label row, so the self-join always
        # hits; composing the map with itself doubles the distance a
        # minimum travels per round -> O(log diameter) rounds total.
        lmap = new_labels.select(
            F.col("clip_id").alias("cluster_id"), F.col("cluster_id").alias("_gp")
        )
        new_labels = (
            new_labels.join(lmap, "cluster_id", "left")
            .select(
                "clip_id",
                F.coalesce("_gp", F.col("cluster_id")).alias("cluster_id"),
                "changed",
            )
        )
        # materialize each round: the convergence count would otherwise
        # recompute the whole lineage, and lineage must stay O(1) deep
        # (labels are one small row per node)
        ids_before = persistent_ids(sc)
        new_labels = new_labels.localCheckpoint(eager=True)
        this_round_ids = persistent_ids(sc) - ids_before
        n_changed = new_labels.filter(F.col("changed")).limit(1).count()
        # the previous round's checkpoint is superseded — release it so
        # the loop holds exactly one label snapshot at a time
        unpersist_ids(sc, prev_round_ids)
        prev_round_ids = this_round_ids
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    else:
        # release the edge relation and the last label snapshot BEFORE
        # raising: a caller that catches this and retries with higher
        # max_iters (the message's own advice) must not accumulate a
        # full cached edge set + label snapshot per failed attempt
        unpersist_ids(sc, edge_ids | prev_round_ids)
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "clusters would be silently split — raise max_iters"
        )
    # the final label snapshot is self-contained — the edge blocks are
    # no longer reachable from the returned plan
    unpersist_ids(sc, edge_ids)
    if all_nodes is not None:
        labels = (
            all_nodes.select("clip_id")
            .join(labels, "clip_id", "left")
            .select("clip_id", F.coalesce("cluster_id", F.col("clip_id")).alias("cluster_id"))
        )
    return labels


def prune_weak_edges(pairs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Drop verified edges dominated by stronger alternatives before CC.

    The MegaPath-rule analog (`kmcp/cmd/profile.go:1357-1388`: matches
    whose support is a small fraction of the best match for that query
    are discarded before assignment).  Here an edge is kept iff its
    score is >= ``alpha`` x the best incident score of AT LEAST ONE of
    its endpoints — equivalently score >= alpha * min(best_a, best_b),
    the score being the edge's ``containment``.
    Every node's own best edge is always kept, so pruning can never
    orphan a genuine duplicate; what it removes are weak one-off bridges
    that would otherwise over-merge two dense clusters through a single
    borderline pair.  ``alpha=0`` disables pruning.

    `_resolve_on_driver` applies the same keep rule to graphs under the
    driver cap; a change to the rule here must be made there too.
    """
    if alpha <= 0:
        return pairs
    s = F.col("containment")
    per_node = (
        pairs.select(F.col("a").alias("clip_id"), s.alias("_s"))
        .union(pairs.select(F.col("b").alias("clip_id"), s.alias("_s")))
        .groupBy("clip_id")
        .agg(F.max("_s").alias("_best"))
    )
    return (
        pairs.join(
            per_node.withColumnRenamed("clip_id", "a").withColumnRenamed("_best", "_ba"),
            "a",
        )
        .join(
            per_node.withColumnRenamed("clip_id", "b").withColumnRenamed("_best", "_bb"),
            "b",
        )
        .filter(s >= F.lit(alpha) * F.least("_ba", "_bb"))
        .drop("_ba", "_bb")
    )


def reassign_by_support(labels: DataFrame, pairs: DataFrame, iters: int = 1) -> DataFrame:
    """EM-style ambiguity reassignment (the analog of kmcp profile's
    stage-4 multi-mapped read reassignment, `kmcp/cmd/profile.go:2075-2117`:
    a read mapping several references is re-assigned to the one with
    dominant accumulated support).

    Each iteration: a node's support for a cluster is the sum of its
    verified-edge scores into members currently labeled with that
    cluster; the node moves to its argmax-support cluster (ties broken
    by smaller cluster id; nodes without edges keep their label).  Run
    AFTER connected components with the UNPRUNED edge set, this lets a
    node that weak-edge pruning separated from its best-supported
    cluster rejoin it — the pruning decides graph connectivity, the
    reassignment decides final membership, exactly the stage-3/stage-4
    split of the reference profiler.

    `_resolve_on_driver` runs the same rounds (sums, argmax, tie to the
    smaller cluster id) for graphs under the driver cap; a change to the
    rule here must be made there too.
    """
    from kmcp_spark.runtime import persistent_ids, unpersist_ids

    sc = pairs.sparkSession.sparkContext
    w = F.col("containment")
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), w.alias("_w")
    ).union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), w.alias("_w")))
    prev_round_ids: set[int] = set()
    for _ in range(iters):
        support = (
            edges.join(labels.withColumnRenamed("clip_id", "dst"), "dst")
            .groupBy("src", "cluster_id")
            .agg(F.sum("_w").alias("_support"))
        )
        win = Window.partitionBy("src").orderBy(F.desc("_support"), F.asc("cluster_id"))
        best = (
            support.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .select(F.col("src").alias("clip_id"), F.col("cluster_id").alias("_new"))
        )
        ids_before = persistent_ids(sc)
        labels = (
            labels.join(best, "clip_id", "left")
            .select(
                "clip_id", F.coalesce("_new", F.col("cluster_id")).alias("cluster_id")
            )
            .localCheckpoint(eager=True)
        )
        # release the previous iteration's superseded snapshot
        unpersist_ids(sc, prev_round_ids)
        prev_round_ids = persistent_ids(sc) - ids_before
    return labels


def cluster_report(labels: DataFrame) -> DataFrame:
    """labels -> clusters with size + deterministic canonical member.

    The canonical pick is the analog of kmcp profile's per-target
    reporting (representative + member stats, `kmcp/cmd/profile.go:2882`).
    """
    w = "OVER (PARTITION BY cluster_id)"
    return labels.selectExpr(
        "clip_id",
        "cluster_id",
        f"count(*) {w} AS cluster_size",
        f"clip_id = min(clip_id) {w} AS is_canonical",
    )
