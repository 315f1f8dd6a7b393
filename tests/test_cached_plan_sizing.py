"""Cached-plan sizing: with
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` on (as
``build_session`` sets it), AQE coalesces the last stage of a persisted
frame to its data instead of keeping every shuffle partition.

The setting is toggled at runtime on the shared session and restored
afterwards; ``build_session`` itself is not called here because its
``getOrCreate`` would rewrite the shared session's config."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

CACHED_SIZING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


@contextmanager
def cached_sizing(spark, on: bool):
    before = spark.conf.get(CACHED_SIZING)
    spark.conf.set(CACHED_SIZING, "true" if on else "false")
    # a cache entry made under the other setting would be reused as is
    spark.catalog.clearCache()
    try:
        yield
    finally:
        spark.catalog.clearCache()
        spark.conf.set(CACHED_SIZING, before)


def _persisted_partitions(spark):
    df = (
        spark.range(100)
        .groupBy((F.col("id") % 3).alias("k"))
        .count()
        .persist()
    )
    try:
        df.count()
        return df.rdd.getNumPartitions()
    finally:
        df.unpersist()


def test_persisted_post_shuffle_frame_is_coalesced(spark):
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with cached_sizing(spark, on=True):
        assert _persisted_partitions(spark) < shuffle_partitions
    with cached_sizing(spark, on=False):
        assert _persisted_partitions(spark) == shuffle_partitions


def test_khop_rows_identical_with_cached_sizing_on_and_off(spark):
    from data2neo_spark.operators.graph import khop_reachability

    # a ring plus chords: several hops before the frontier empties
    edges = spark.range(60).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 60).alias("dst")
    ).unionAll(
        spark.range(0, 60, 7).select(
            F.col("id").alias("src"), ((F.col("id") * 5 + 11) % 60).alias("dst")
        )
    )
    seeds = spark.createDataFrame([(0,), (13,), (42,)], "seed long")

    def run():
        out = khop_reachability(edges, seeds, k=4, undirected=True)
        return sorted(map(tuple, out.collect())), out.rdd.getNumPartitions()

    with cached_sizing(spark, on=True):
        rows_on, parts_on = run()
    with cached_sizing(spark, on=False):
        rows_off, parts_off = run()
    assert rows_on == rows_off
    assert {r[2] for r in rows_on} == {0, 1, 2, 3, 4}
    # the result is the union of the per-hop layers; sized layers hold
    # fewer partitions than layers that keep every shuffle partition
    assert parts_on < parts_off


def test_entry_queries_size_their_caches_and_restore_the_setting(spark):
    """Every driver query runs with cached-plan sizing on, whatever the
    caller's session says, and hands the caller's value back, also when
    the query raises."""
    import __spark_entry__ as entry

    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seen = {}

    def query(spark, sf_dir):
        seen["parts"] = _persisted_partitions(spark)
        return spark.range(1)

    def failing(spark, sf_dir):
        raise RuntimeError("boom")

    with cached_sizing(spark, on=False):
        entry._with_cached_plan_sizing(query)(spark, "unused")
        assert spark.conf.get(CACHED_SIZING) == "false"
        with pytest.raises(RuntimeError):
            entry._with_cached_plan_sizing(failing)(spark, "unused")
        assert spark.conf.get(CACHED_SIZING) == "false"
    assert seen["parts"] < shuffle_partitions
    assert all(hasattr(fn, "__wrapped__") for fn in entry.queries().values())
