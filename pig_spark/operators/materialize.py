"""How the engine keeps rows that a query reads more than once.

The rule, stated once. :func:`materialize` takes a lazy local
checkpoint: the first job that reads the frame stores its rows in
executor block storage (memory, spilling to disk), though under AQE
the input's shuffle stages run while the frame is built; ``eager=True``
stores them before returning. The plan becomes a ``LogicalRDD`` leaf
and nothing enters Spark's session-wide CacheManager, so no later plan
is served these rows: a query over a rewritten file reads the new
file. The blocks are freed when the JVM collects the frame's plan
(Spark's ContextCleaner), or at once by :func:`release`.

A local checkpoint is not fault tolerant: a lost executor fails the
job. Above ``SPARK_GRAFT_CKPT_MAX_BYTES`` (the optimized plan's size
estimate, in bytes; a deployment setting, default 16 GiB) the frame is
persisted ``DISK_ONLY`` instead: the lineage stays, so lost blocks are
recomputed. Only :func:`release` frees that CacheManager entry. A
failed estimate falls back to the checkpoint.

Lineage cuts inside an iteration (``prefix.running_sums``,
``graph.connected_components``, ``ml.train_bpe``) checkpoint directly
and free with :func:`release`; ``multisink.multi_store`` persists,
because it needs the CacheManager to substitute the shared subplan.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from .skew import plan_size_bytes


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df`` stored once for its several readers (the module rule)."""
    max_bytes = int(os.environ.get("SPARK_GRAFT_CKPT_MAX_BYTES", str(16 << 30)))
    try:
        big = plan_size_bytes(df) > max_bytes
    except Exception:
        big = False
    return df.persist(StorageLevel.DISK_ONLY) if big else df.localCheckpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free every store under ``df``: the local checkpoints at its plan's
    leaves and the DISK_ONLY cache entries of its subplans (the level
    only :func:`materialize` uses in the engine). For a caller that owns
    ``df`` and is done with it; ``df`` cannot be evaluated afterwards."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    leaves = qe.logical().collectLeaves()
    for leaf in (leaves.apply(i) for i in range(leaves.size())):
        if leaf.nodeName() == "LogicalRDD" and leaf.rdd().isLocallyCheckpointed():
            leaf.rdd().unpersist(False)
    jspark = df.sparkSession._jsparkSession  # noqa: SLF001
    cache = jspark.sharedState().cacheManager()
    disk_only = df.sparkSession._sc._getJavaStorageLevel(StorageLevel.DISK_ONLY)  # noqa: SLF001
    todo = [] if cache.isEmpty() else [qe.analyzed()]
    while todo:
        node = todo.pop()
        hit = cache.lookupCachedData(jspark, node)
        entry = hit.get() if hit.isDefined() else None
        if entry and entry.cachedRepresentation().cacheBuilder().storageLevel().equals(disk_only):
            cache.uncacheQuery(jspark, entry.plan(), False, False)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
