"""Round state for the iterative operators (pagerank, khop_reachability,
label_propagation, dedup.duplicate_clusters).

Checkpoint format: round ``i`` of a loop writes its state table to
``<checkpoint_dir>/<prefix>_<i>`` as parquet. A round is complete when that
directory holds Spark's ``_SUCCESS`` marker, so a job killed mid-write
leaves an incomplete round that :func:`resume` skips. Every recurrence
here is a pure function of the previous round's table, so resuming from
any complete round is exact.

Commit policy per round (:func:`materialize`): with a checkpoint dir the
disk write is the round's one job and the frame is read back from it,
which also cuts the lineage; without one the frame is persisted and
counted, because the next round's broadcast builds would otherwise
re-execute every prior round; label_propagation and duplicate_clusters
also cut its lineage every round (``cut``). :func:`release` drops the
previous round.

Cache ownership: :func:`persist` is the one persist in ``operators/``. It
names each cache it makes (and :func:`materialize` each checkpoint) with
:data:`OWNER`, the record Spark keeps with the cache itself, and
:func:`release` frees the owned caches and checkpoints a frame reads, so
one ``release(result)`` frees everything an operator cached for its
result. Caches made elsewhere (a caller, ``GraphStore``, ``IDRegistry``)
carry no such name and are never touched.
"""

from __future__ import annotations

import os
from typing import Optional, Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

OWNER = "data2neo_spark"


def _path(checkpoint_dir: str, prefix: str, i: int) -> str:
    return os.path.join(checkpoint_dir, f"{prefix}_{i}")


def resume(
    spark: SparkSession, checkpoint_dir: Optional[str], prefix: str, limit: int
) -> Optional[Tuple[int, DataFrame]]:
    """``(i, table)`` for the highest complete round ``i < limit``, read
    back from disk; None without a checkpoint dir or a complete round.
    Rounds at or past ``limit`` (left by a longer run) are ignored."""
    if checkpoint_dir is None or not os.path.isdir(checkpoint_dir):
        return None
    n = len(prefix) + 1
    done = [
        int(d[n:])
        for d in os.listdir(checkpoint_dir)
        if d.startswith(prefix + "_") and d[n:].isdigit() and int(d[n:]) < limit
        and os.path.exists(os.path.join(checkpoint_dir, d, "_SUCCESS"))
    ]
    if not done:
        return None
    i = max(done)
    return i, spark.read.parquet(_path(checkpoint_dir, prefix, i))


def materialize(
    df: DataFrame,
    checkpoint_dir: Optional[str] = None,
    prefix: str = "",
    i: int = 0,
    cut: bool = False,
) -> Tuple[DataFrame, Optional[int]]:
    """Make round ``i``'s frame concrete in one job. With a checkpoint dir
    it is written to ``<checkpoint_dir>/<prefix>_<i>`` and read back
    (count None); without one it is persisted and counted.

    ``cut`` also truncates the lineage of a persisted frame (the write
    already does): the local checkpoint sits on top of the cache, so the
    count still reports the frame's ``observe`` metrics, and the cache is
    dropped once the checkpoint blocks exist.

    Rule for ``cut``: a persisted frame's plan embeds its parent's, so a
    round that reads its previous frame more than once must cut, or its
    plan string multiplies every round. Measured uncut: label_propagation
    (two reads) grew 4× per round and duplicate_clusters (two reads plus
    the pointer-jump self-join) 8×; a 2 GB driver ran out of heap within
    8 rounds on a 200-node graph and within 5 on a 20-node chain. A
    round that reads it once (pagerank, khop) grows linearly and stays
    uncut: forcing the cut measured slower for khop and no faster for
    pagerank."""
    if checkpoint_dir is None:
        cached = persist(df)
        if not cut:
            return cached, cached.count()
        df = cached.localCheckpoint(eager=False)
        n = df.count()
        release(cached)
        df._jdf.queryExecution().logical().rdd().setName(OWNER)
        return df, n
    path = _path(checkpoint_dir, prefix, i)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path), None


def persist(df: DataFrame) -> DataFrame:
    """Cache ``df`` as ``df.persist()`` would, at PySpark's default level
    (MEMORY_AND_DISK_DESER: spills without serializing), under the name
    :data:`OWNER`. A plan that is already cached keeps its cache and its
    owner."""
    sc = df.sparkSession.sparkContext
    df.sparkSession._jsparkSession.sharedState().cacheManager().cacheQuery(
        df._jdf,
        sc._jvm.scala.Some(OWNER),
        sc._getJavaStorageLevel(StorageLevel.MEMORY_AND_DISK_DESER),
    )
    return df


def release(*frames: DataFrame) -> None:
    """Drop every cache and checkpoint named :data:`OWNER` that each
    frame's plan reads (not the ones inside a cache's own lineage). On a
    persisted or cut round frame that is the frame itself; on an
    operator's result it is every cache the operator left behind it."""
    for f in frames:
        jspark = f.sparkSession._jsparkSession
        leaves = f._jdf.queryExecution().withCachedData().collectLeaves()
        for j in range(leaves.size()):
            node = leaves.apply(j)
            if node.nodeName() == "InMemoryRelation":
                name = node.cacheBuilder().tableName()
                if name.isDefined() and name.get() == OWNER:
                    jspark.sharedState().cacheManager().uncacheQuery(
                        jspark, node.cacheBuilder().logicalPlan(), False, False
                    )
            elif node.nodeName() == "LogicalRDD" and node.rdd().name() == OWNER:
                node.rdd().unpersist(False)
