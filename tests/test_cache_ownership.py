"""Cache ownership: one ``data2neo_spark.release(result)`` frees every cache
and checkpoint an operator made behind its result, and never a cache the
caller made. The scan is tools/check_leaks.py's, over a fixed subset of the
driver queries at sf0.001; each test starts from an empty cache."""

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from data2neo_spark import release
from data2neo_spark.operators import dedup, graph
from tools.check_leaks import clear, state

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", [
    "graph_khop", "graph_communities", "graph_pagerank", "dedup_minhash",
    "dedup_incremental", "dedup_clusters", "kg_fuse",
])
def test_release_frees_every_operator_cache(spark, name):
    clear(spark)
    df = entrymod.queries()[name](spark, SF)
    df.collect()
    assert state(spark) != (0, True)  # the operator did cache its work
    release(df)
    assert state(spark) == (0, True)


def test_checkpointed_khop_leaves_no_layer_cache(spark, tmp_path):
    """Read back from disk, the result no longer reads the hop layers'
    caches, so the operator frees them itself."""
    clear(spark)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    edges = orders.select(
        F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("dst")
    )
    reached = graph.khop_reachability(
        edges, edges.select("src").limit(3), 2, undirected=True,
        checkpoint_dir=str(tmp_path),
    )
    assert reached.where(F.col("min_hops") == 2).count() > 0
    release(reached)
    assert state(spark) == (0, True)


def test_released_cached_result_recomputes_from_lineage(spark):
    clear(spark)
    df = entrymod.queries()["dedup_minhash"](spark, SF)
    n = df.count()
    release(df)
    assert state(spark) == (0, True)
    assert df.count() == n


def test_release_keeps_caller_caches(spark):
    clear(spark)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    edges = orders.select(
        F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("dst")
    ).persist()
    edges.count()
    reached = graph.khop_reachability(edges, edges.select("src").limit(3), 2)
    reached.collect()
    release(reached)
    assert edges.storageLevel != StorageLevel.NONE

    sig = dedup.simhash(
        spark.read.parquet(f"{SF}/documents.parquet"), "doc_id"
    ).persist()
    sig.count()
    pairs = dedup.hamming_near_duplicates(sig, "doc_id", "simhash")
    pairs.collect()
    release(pairs)
    assert sig.storageLevel != StorageLevel.NONE
    assert edges.storageLevel != StorageLevel.NONE
    # nothing but the caller's two caches is left
    edges.unpersist()
    sig.unpersist()
    assert state(spark) == (0, True)
