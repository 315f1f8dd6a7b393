"""Cache-leak scan over the driver queries.

For each query of ``__spark_entry__.queries()`` it prints the number of
persistent RDDs and whether Spark's CacheManager is empty, once after
``collect()`` and once after ``data2neo_spark.release(result)``. Between
queries every cache is cleared, so each line counts one query's leftovers.

    python3 tools/check_leaks.py                        # all queries, sf0.001
    python3 tools/check_leaks.py graph_khop kg_fuse     # a subset
    SPARK_GRAFT_SF_DIR=<dir> python3 tools/check_leaks.py   # another scale

Without query names only lines with something left are printed, plus a
total. Queries whose caches belong to a core object (not to an operator,
so ``release`` leaves them) are tagged with that owner.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from data2neo_spark import release

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# caches a core object pins on purpose; the object releases them itself
OWNERS = {
    "kg_triples_match": "GraphStore: the shared Order/Part node table",
    "id_registry": "IDRegistry: its in-memory registry table",
    "kg_wrapper_dynamic": "GraphStore: the adopted dynamic-rule source frame",
}


def state(spark):
    """(persistent RDD count, CacheManager empty)."""
    jsc = spark.sparkContext._jsc
    cm = spark._jsparkSession.sharedState().cacheManager()
    return jsc.getPersistentRDDs().size(), cm.isEmpty()


def clear(spark):
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def main():
    only = sys.argv[1:] or None
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    leaky = total = 0
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        clear(spark)
        df = fn(spark, SF_DIR)
        df.collect()
        collected = state(spark)
        release(df)
        released = state(spark)
        if collected != (0, True) or released != (0, True) or only:
            owner = f"  [{OWNERS[name]}]" if name in OWNERS else ""
            print(
                f"{name}: collect rdds={collected[0]} cache_empty={collected[1]}"
                f"  release rdds={released[0]} cache_empty={released[1]}{owner}",
                flush=True,
            )
        if released != (0, True):
            leaky += 1
            total += released[0]
    print(f"LEFT AFTER RELEASE: {leaky} queries, {total} persistent RDDs")


if __name__ == "__main__":
    main()
