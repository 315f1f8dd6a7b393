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
"""

from __future__ import annotations

import os
from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession


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
        cached = df.persist()
        if not cut:
            return cached, cached.count()
        df = cached.localCheckpoint(eager=False)
        n = df.count()
        cached.unpersist()
        return df, n
    path = _path(checkpoint_dir, prefix, i)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path), None


def release(*frames: DataFrame) -> None:
    """Drop finished round frames: the cache of a persisted one, the
    checkpoint blocks of a cut one (a no-op for read-back ones)."""
    for f in frames:
        f.unpersist()
        plan = f._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
