"""Tuned SparkSession builder for KG-construction workloads.

Encodes the configuration lessons measured in BENCH.md:
* small input splits (16 MB) so scans feed every core even on ~1 GB inputs,
* generous shuffle partitions with AQE coalescing (16 MB advisory) —
  stragglers beat scheduling overhead on skewed aggregations,
* AQE on: runtime re-planning, and the skew join that splits hub keys
  of shuffled MATCH and mention joins (the engine adds no salt of its own),
* cached plans sized to their data: with
  ``canChangeCachedPlanOutputPartitioning`` AQE may coalesce the last
  stage of a persisted frame, which otherwise keeps every shuffle
  partition however little it holds (measured on 4 cores: graph_khop
  1,547 -> ~100 tasks, converter node pass 148 -> 18, relationship pass
  83 -> 18),
* Arrow batches sized for the pandas-UDF wrapper paths.

Operators leave their input's partitioning alone. Workarounds for the
synthetic test data live in the driver contract (``__spark_entry__.py``):
it spreads single-row-group scans in ``_read(..., key=)`` and runs each
query with the cached-plan sizing above, restoring the caller's setting.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def build_session(
    cpus: int | str = "*",
    app_name: str = "data2neo_spark",
    driver_memory: str = "16g",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    n = 32 if cpus == "*" else int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n * 8, 64)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
