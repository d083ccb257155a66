"""Cached-block bookkeeping helpers, one Python-worker helper and one
driver-side relation builder.

``localCheckpoint`` materializes a DataFrame into storage-level blocks
that survive until the context dies — DataFrame.unpersist() does NOT
release them (it talks to the SQL cache manager, not the RDD block
store).  Iterative operators (connected components, EM reassignment)
create one checkpoint per round; without explicit release a long-lived
session accumulates every superseded round.  These helpers track block
ids through the JVM's persistent-RDD map so superseded checkpoints are
unpersisted the moment a newer one lands.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_finders() -> None:
    """Forget every cached import finder of a zip archive: the archives'
    roots (``.../pyspark.zip``) and the package paths inside them
    (``.../pyspark.zip/pyspark/sql/pandas``).

    Every ``mapInPandas`` / ``applyInPandas`` function calls this first.
    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``pyspark.worker_util.setup_spark_files``), and
    under CPython 3.11 each cached ``zipimporter`` then re-reads its
    archive's central directory.  A warm worker caches 16 of them: the
    roots of ``pyspark.zip``, the py4j zip and the spark-core jar, and
    13 package paths inside those, 11 of them in the 1328-entry
    ``pyspark.zip``.  So each task read ``pyspark.zip`` 12 times and the
    jar twice, ~70 ms of CPU (3.5 ms and 15 ms a read), before the
    function ran; with every finder dropped it reads none (cProfile of a
    warm pass's worker tasks: 0 ``_read_directory`` calls, 3 a task
    with the roots kept).  A dropped finder that an import needs again
    is rebuilt from zipimport's directory cache, without a read."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def local_relation(spark, rows, schema: str):
    """Driver-side ``rows`` (tuples in the column order of ``schema``, a
    flat ``"name type, ..."`` string) as a DataFrame over a
    ``LocalRelation`` that Arrow builds on the JVM.  ``createDataFrame``
    over a list of tuples makes a pickled Python RDD instead, and so does
    an empty pandas frame: its first use runs one job of Python-worker
    tasks that only re-read the rows."""
    import pyarrow as pa

    names = [field.split()[0] for field in schema.split(",")]
    cols = list(zip(*rows)) or [()] * len(names)
    return spark.createDataFrame(pa.table(dict(zip(names, map(list, cols)))), schema)


def persistent_ids(sc) -> set[int]:
    """Ids of all currently persisted RDDs (cached + localCheckpointed)."""
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def unpersist_ids(sc, ids: set[int]) -> None:
    """Release the given persisted RDDs (non-blocking), ignoring ids
    that have already been cleaned up."""
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)


# ---------------------------------------------------------------- deferred
# Operator-internal persisted relations (shared gram tables, signature
# relations, multi-k levels) are only useful while the operator's
# returned LAZY plan is being consumed — but the operator cannot see
# when that happens.  Each such relation is registered here; the next
# operator call (or an explicit release_deferred()) unpersists the
# previous batch, so a long-lived session running many document queries
# holds at most one query's internal caches instead of accumulating
# every query's.  Unpersisting a .persist() cache is always safe: a
# consumer that runs afterwards simply recomputes.

_DEFERRED: list = []


def widen_narrow_scan(df):
    """Repartition a relation UP to the cluster's default parallelism if
    (and only if) it arrives narrower — a small parquet fixture lands as
    one partition, which would run a whole mapInPandas kernel on one
    core.  A 100-TB scan already has >> defaultParallelism partitions
    and flows through untouched: no shuffle is ever added at scale.

    The partition-count probe (``df.rdd.getNumPartitions()``) costs one
    extra driver-side physical planning of the scan — no job runs.  For
    a leaf parquet scan that is single-digit milliseconds; accepted in
    exchange for keeping the decision correct for ANY input relation
    (paths, pre-shuffled upstreams, in-memory fixtures) instead of
    guessing from file listings."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if par > 1 and df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def defer_unpersist(df):
    """Register an operator-internal cached DataFrame for deferred
    release; returns ``df`` for chaining.  Only .persist() caches may be
    registered — never localCheckpoints (whose blocks are required for
    correctness once lineage is truncated)."""
    _DEFERRED.append(df)
    return df


def release_deferred() -> None:
    """Unpersist every registered internal cache."""
    global _DEFERRED
    pending, _DEFERRED = _DEFERRED, []
    for df in pending:
        try:
            df.unpersist(False)
        except Exception:
            pass  # session already stopped
