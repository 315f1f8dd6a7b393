"""Crash-safe parquet table swap: the one write and recovery protocol of
every table the engine keeps on disk (``GraphStore`` nodes/edges and their
``_nbucket=`` buckets, the ``IDRegistry`` table).

A write stages the frame under ``<root>/_tmp_<name>_<ms>`` (Spark refuses
to overwrite a path it is reading), then swaps each directory in with
rename-aside: live ``X`` → ``_old_X``, staged → ``X``, drop ``_old_X``.
The swapped directory is the whole table, or only the bucket directories
a write touched. A process killed at any point leaves either the old or
the new directory; ``recover`` at the next open puts the table back
together. Underscore-prefixed names keep Spark's reader from ever listing
the staging and backup directories.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

_OLD = "_old_"


def swap(
    spark: SparkSession,
    root: str,
    name: str,
    df: DataFrame,
    partition_by: Optional[str] = None,
    touched: Optional[List[int]] = None,
) -> DataFrame:
    """Write ``df`` as table ``<root>/<name>`` (partitioned by
    ``partition_by`` when given) and return the table read back.
    ``touched`` swaps only the ``<partition_by>=<v>`` directories of those
    values — ``df`` must then hold exactly their rows — and leaves every
    other partition's files as they are; a touched value with no rows left
    becomes an empty directory."""
    target = os.path.join(root, name)
    tmp = os.path.join(root, f"_tmp_{name}_{int(time.time() * 1000)}")
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    if touched is None:
        _replace(tmp, target)
    else:
        for v in touched:
            part = f"{partition_by}={v}"
            _replace(os.path.join(tmp, part), os.path.join(target, part))
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(target)


def _replace(src: str, dst: str) -> None:
    old = os.path.join(os.path.dirname(dst), _OLD + os.path.basename(dst))
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(dst):
        os.rename(dst, old)
    if os.path.exists(src):
        os.rename(src, dst)
    else:
        os.makedirs(dst)
    shutil.rmtree(old, ignore_errors=True)


def recover(spark: SparkSession, root: str, name: str) -> Optional[DataFrame]:
    """Undo what a killed ``swap`` of table ``name`` left under ``root``
    and return the table, or None when there is none. Sweeps the table's
    own ``_tmp_<name>_*`` staging directories (other tables' are left
    alone), then applies one rule to ``_old_<name>`` and to every
    ``_old_X`` inside the table: ``X`` missing → the backup is the live
    copy, rename it back; ``X`` present → the swap completed, drop it."""
    os.makedirs(root, exist_ok=True)
    for entry in os.listdir(root):
        if entry.startswith(f"_tmp_{name}_"):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    target = os.path.join(root, name)
    _restore(os.path.join(root, _OLD + name))
    if os.path.isdir(target):
        for entry in os.listdir(target):
            if entry.startswith(_OLD):
                _restore(os.path.join(target, entry))
    if not os.path.exists(os.path.join(target, "_SUCCESS")):
        return None
    return spark.read.parquet(target)


def _restore(old: str) -> None:
    if not os.path.exists(old):
        return
    live = os.path.join(os.path.dirname(old), os.path.basename(old)[len(_OLD):])
    if os.path.exists(live):
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(old, live)
