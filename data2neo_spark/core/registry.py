"""IDRegistry — the north-star "resource-ID registry": Data2Neo's
ResourceIterator + IDStore idea re-expressed as a keyed DataFrame with
monotonic surrogate IDs.

The reference keeps per-resource identity implicit in its primary-key merge
(`graph_elements.py` merge-on-key); large KG builds additionally need a
DENSE, STABLE integer id space (embedding tables, adjacency arrays,
downstream ML features index by it). The registry maps arbitrary keys to
monotonically increasing longs:

* a key registered once keeps its id forever (across batches and runs);
* new keys get ids strictly above every previously assigned id;
* ids are dense (no gaps) and deterministic.

Two assignment strategies:

* ``sorted`` — new keys get ``max_id + row_number() over (order by key)``.
  One global sort of the NEW keys only (new-per-batch is small by registry
  semantics); fully SQL-reproducible, used by the oracle-verified driver
  query.
* ``partitioned`` — the 100 TB path: new keys hash-partition by key, each
  partition counts its rows, the per-partition offsets are computed on the
  driver (one collect of ``n_partitions`` longs), and ids are
  ``max_id + offset[p] + row_number() over (partition by p order by key)``.
  No global sort, no single-reducer bottleneck; still deterministic
  (hash partitioning + in-partition key order), but the key→id mapping
  depends on the partition count, so it is reproducible, not SQL-replayable.

A path-backed registry writes and reopens its table through
``core/tables.py`` (crash-safe rename-aside swap + startup recovery).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables


class IDRegistry:
    def __init__(
        self,
        spark: SparkSession,
        path: Optional[str] = None,
        key_type: str = "string",
    ) -> None:
        self.spark = spark
        self.path = path
        self._table = (
            tables.recover(spark, path, "registry") if path is not None else None
        )
        self._max_id = 0
        if self._table is None:
            self._table = spark.createDataFrame([], f"key {key_type}, sid long")
        else:
            self._max_id = self._table.agg(F.max("sid")).collect()[0][0] or 0

    @property
    def table(self) -> DataFrame:
        """The full (key, sid) mapping."""
        return self._table

    @property
    def max_id(self) -> int:
        return self._max_id

    def register(
        self,
        df: DataFrame,
        key_col: str,
        assign: str = "sorted",
        num_partitions: int = 0,
    ) -> DataFrame:
        """Ensure every distinct non-null ``key_col`` value has an id;
        returns the updated full mapping (also available as ``.table``).

        Existing keys are untouched; new keys are assigned per ``assign``
        (see module docstring). The anti-join that finds new keys
        broadcasts nothing corpus-sized: its build side is the registry
        scan, which Spark/AQE sizes normally."""
        keys = (
            df.select(F.col(key_col).alias("key"))
            .where(F.col("key").isNotNull())
            .distinct()
        )
        return self._register_keys(keys, assign, num_partitions)

    def register_batch(
        self,
        items,
        assign: str = "sorted",
        num_partitions: int = 0,
    ) -> DataFrame:
        """Register keys from MANY frames in one pass: ``items`` is a list
        of (df, key_col). The key frames union into a single distinct set,
        so the whole batch costs ONE anti-join + ONE assignment + ONE
        materialize (one persist/max action) instead of one per call —
        the per-call action cost noted as a round-3 debt."""
        if not items:
            return self._table
        keys = None
        for df, key_col in items:
            k = (
                df.select(F.col(key_col).alias("key"))
                .where(F.col("key").isNotNull())
            )
            keys = k if keys is None else keys.unionByName(k)
        return self._register_keys(keys.distinct(), assign, num_partitions)

    def _register_keys(
        self, keys: DataFrame, assign: str, num_partitions: int
    ) -> DataFrame:
        if assign not in ("sorted", "partitioned"):
            raise ValueError("assign must be 'sorted' or 'partitioned'")
        new = keys.join(self._table.select("key"), "key", "left_anti")
        parts = None
        try:
            if assign == "sorted":
                w = Window.orderBy("key")
                assigned = new.select(
                    "key",
                    (F.row_number().over(w) + F.lit(self._max_id))
                    .cast("long").alias("sid"),
                )
            else:
                n_parts = num_partitions or max(
                    self.spark.sparkContext.defaultParallelism, 1
                )
                # LOGICAL hash bucket computed from the data, not
                # spark_partition_id(): physical partition ids are not stable
                # under AQE (runtime coalescing re-maps them between plan
                # executions), which would silently re-assign ids on recompute
                parts = new.withColumn(
                    "_pid", F.pmod(F.xxhash64(F.col("key")), F.lit(n_parts)).cast("int")
                ).persist()
                counts = dict(
                    (r["_pid"], r["count"])
                    for r in parts.groupBy("_pid").count().collect()
                )
                offsets = {}
                acc = 0
                for pid in sorted(counts):
                    offsets[pid] = acc
                    acc += counts[pid]
                off_expr = F.lit(0)
                for pid, off in offsets.items():
                    off_expr = F.when(F.col("_pid") == pid, F.lit(off)).otherwise(off_expr)
                wp = Window.partitionBy("_pid").orderBy("key")
                assigned = parts.select(
                    "key",
                    (F.row_number().over(wp) + off_expr + F.lit(self._max_id))
                    .cast("long").alias("sid"),
                )
            updated = self._table.unionByName(assigned)
            self._materialize(updated)
        finally:
            # unpersist even when the write/rename throws (ADVICE r3)
            if parts is not None:
                parts.unpersist()
        return self._table

    def lookup(self, df: DataFrame, key_col: str, id_col: str = "sid") -> DataFrame:
        """Attach the surrogate id to every row of ``df`` (left join on the
        registry — rows with unregistered keys get NULL)."""
        reg = self._table.select(
            F.col("key").alias(key_col), F.col("sid").alias(id_col)
        )
        return df.join(reg, key_col, "left")

    def _materialize(self, updated: DataFrame) -> None:
        prev = None if self.path is not None else self._table
        self._table = (
            tables.swap(self.spark, self.path, "registry", updated)
            if self.path is not None else updated.persist()
        )
        # fill the new cache before dropping the previous one its plan reads
        self._max_id = self._table.agg(F.max("sid")).collect()[0][0] or 0
        if prev is not None:
            prev.unpersist()
