"""Deterministic lifecycle management for ``localCheckpoint`` storage.

``DataFrame.localCheckpoint`` persists the materialized partitions
under the covers, but the storage is owned by the *internal* RDD —
``DataFrame.unpersist()`` goes through the SQL cache manager and does
NOT free it (measured: the persistent-RDD count stays put). The blocks
are released only when the JVM garbage-collects the last reference and
the ContextCleaner notices — which, in a long single-JVM sweep that
checkpoints per catalog entry or per iteration
(connected components) or per micro-batch (stream ingest), is far too
late: the sf10 components probe OOMed an 8 GiB heap on storage pinned
by checkpoints of *earlier, already-finished* catalog entries.

Two tools close the gap:

* :func:`tracked_local_checkpoint` — checkpoint a frame and return
  the ids of the persistent RDDs the call created (snapshot-diff of
  ``SparkContext.getPersistentRDDs``), so the caller can free them
  deterministically with :func:`unpersist_ids` the moment the frame
  is superseded. Defaults to ``DISK_ONLY`` storage: checkpoint blocks
  have no business competing with shuffles for heap — local-disk read
  latency is noise next to the joins these frames feed, and the heap
  stays whole. Snapshot-diff attribution assumes no concurrent thread
  is persisting RDDs in the same SparkContext between the two
  snapshots (true for every driver loop in this package; documented
  here because a multi-threaded driver could mis-attribute).
* :func:`unpersist_all_rdds` — free EVERY persistent RDD in the
  context. Only for sequential sweep harnesses at entry boundaries
  (nothing crosses entries by design); never call it from library
  code that might run concurrently with other jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def _persistent_ids(spark: SparkSession) -> frozenset[int]:
    return frozenset(spark.sparkContext._jsc.getPersistentRDDs().keys())


def tracked_local_checkpoint(
    df: DataFrame,
    storage_level: StorageLevel = StorageLevel.DISK_ONLY,
) -> tuple[DataFrame, frozenset[int]]:
    """Eagerly localCheckpoint ``df`` and return ``(checkpointed,
    created_rdd_ids)``; pass the ids to :func:`unpersist_ids` once the
    frame is no longer needed. After that the frame is unusable
    (checkpoints truncate lineage — the blocks are the only copy).
    For the same reason a local checkpoint is not safe against
    executor loss on a cluster: the blocks are unreplicated, so a
    lost executor fails the job instead of recomputing. Local mode
    cannot lose one; a cluster deployment wants a replicated
    ``storage_level`` (e.g. ``DISK_ONLY_2``)."""
    spark = df.sparkSession
    before = _persistent_ids(spark)
    out = df.localCheckpoint(eager=True, storageLevel=storage_level)
    return out, _persistent_ids(spark) - before


def unpersist_ids(spark: SparkSession, ids: frozenset[int]) -> None:
    """Free the persistent RDDs named by ``ids`` (non-blocking; ids
    already gone are skipped)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def unpersist_all_rdds(spark: SparkSession, blocking: bool = False) -> None:
    """Free every persistent RDD in the context — the entry-boundary
    sweep for sequential harnesses (see module docstring). Combine
    with ``spark.catalog.clearCache()`` (cached plans) for a full
    storage reset between independent catalog entries."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(blocking)
