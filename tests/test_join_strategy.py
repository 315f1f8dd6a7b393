"""Who picks each operator join: Spark's planner from measured sizes, and
one row-bounded collect for the inline-literal-or-join lookups.

The graph, store and mention joins carry no broadcast hint, so with
``spark.sql.autoBroadcastJoinThreshold=-1`` they plan no
BroadcastHashJoin, and at the default threshold Spark still broadcasts
the small filled caches. Dictionaries and blocklists inline by row
count, not by a byte estimate that guesses a row width, and a mention
detector decides that once, not per micro-batch.
"""

import pandas as pd

from data2neo_spark import GraphStore, Node, Relationship, release
from data2neo_spark.operators import graph
from data2neo_spark.operators import web as W
from data2neo_spark.pipeline.webtext import detect_mentions, mention_detector
from data2neo_spark.sources.pages import entity_dictionary


def executed_plans(spark, make_df):
    """Collect ``make_df()``, release the caches it reads, and return the
    physical plan of every SQL execution that ran (the final plan of an
    adaptive one), read from the session's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    listener_bus = spark.sparkContext._jsc.sc().listenerBus()
    listener_bus.waitUntilEmpty()
    before = store.executionsCount()
    df = make_df()
    df.collect()
    release(df)
    listener_bus.waitUntilEmpty()
    execs = store.executionsList(int(before), 1 << 20)
    return "\n".join(
        execs.apply(i).physicalPlanDescription().split("== Initial Plan ==")[0]
        for i in range(execs.size())
    )


def small_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (6,)], "seed long")
    return edges, seeds


def test_large_dictionary_plans_a_join(spark):
    """160,000 rows are past the 50,000-row inline cap, however narrow the
    rows: the lookup is an equi join, not a literal array."""
    entity_dict = spark.range(160_000).selectExpr(
        "concat('s', id) AS surface", "id AS entity_id",
        "concat('S', id) AS canonical", "'t' AS kind",
    )
    docs = spark.createDataFrame(pd.DataFrame({
        "url": ["u1", "u2"], "text": ["s7 x s7 s159999", "nothing here"],
    }))
    m = detect_mentions(docs, entity_dict)
    plan = m._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan
    assert "array_intersect" not in plan
    assert sorted((r["url"], r["surface"], r["n_hits"]) for r in m.collect()) == [
        ("u1", "s159999", 1), ("u1", "s7", 2),
    ]


def test_blocklist_past_row_cap_plans_anti_join(spark):
    """40,000 generated domains are past the 10,000-row inline cap."""
    df = spark.createDataFrame(pd.DataFrame({
        "url": ["https://spam0.biz/x", "https://good.com/y"],
        "text": ["a", "b"],
    }))
    blocklist = spark.range(40_000).selectExpr("concat('spam', id, '.biz') AS domain")
    out = W.filter_domain_blocklist(df, blocklist)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join LeftAnti" in plan
    assert [r["text"] for r in out.collect()] == ["b"]


def test_graph_and_store_joins_follow_the_session_threshold(spark, shuffle_joins):
    """With autoBroadcastJoinThreshold=-1 nothing broadcasts: no operator
    hint overrides the session, not even on a labelled relationship match
    whose node side is the whole label, nor on the metadata join of an
    inlined dictionary."""
    edges, seeds = small_graph(spark)
    docs = spark.createDataFrame(pd.DataFrame({"url": ["u1"], "text": ["ent3 x"]}))
    a, b = Node("A", id=1), Node("B", id=2)
    store = GraphStore(spark)
    store.create(a | b | Relationship(a, "to", b, id=1) | Relationship(b, "to", a, id=2))
    runs = {
        "khop": lambda: graph.khop_reachability(edges, seeds, k=3),
        "sample": lambda: graph.sample_neighbors(edges, seeds, [2, 2]),
        "pagerank": lambda: graph.pagerank(edges, iters=2),
        "lpa": lambda: graph.label_propagation(edges, iters=2),
        "mentions": lambda: detect_mentions(docs, entity_dictionary(spark, 20)),
        "match": lambda: store.match_relationships(
            "to", from_node_labels=["A"], to_node_labels=["B"]),
    }
    for name, make_df in runs.items():
        with shuffle_joins():
            plans = executed_plans(spark, make_df)
        assert "BroadcastHashJoin" not in plans, name
        assert "SortMergeJoin" in plans, name


def test_khop_small_graph_joins_broadcast_at_default_threshold(spark):
    """Without hints, Spark still broadcasts khop's frontier and reached
    caches on a small graph: both the frontier join and the anti join
    are BroadcastHashJoin."""
    edges, seeds = small_graph(spark)
    plans = executed_plans(
        spark, lambda: graph.khop_reachability(edges, seeds, k=3)
    )
    assert "BroadcastHashJoin LeftAnti" in plans
    assert "BroadcastHashJoin Inner" in plans
    assert "SortMergeJoin" not in plans


def test_pagerank_and_lpa_small_graph_joins_broadcast_at_default_threshold(spark):
    """Without a node-count gate, Spark still broadcasts the small filled
    rank and label caches: no round joins by sort-merge."""
    edges, _ = small_graph(spark)
    for make_df in (lambda: graph.pagerank(edges, iters=2),
                    lambda: graph.label_propagation(edges, iters=2)):
        plans = executed_plans(spark, make_df)
        assert "BroadcastHashJoin" in plans
        assert "SortMergeJoin" not in plans


def test_mention_detector_decides_once(spark):
    """The bounded collect runs when the detector is made; detecting
    mentions on each new batch runs no job, inline or join path."""
    sc = spark.sparkContext
    docs = spark.createDataFrame(pd.DataFrame({"url": ["u1"], "text": ["ent3 x"]}))
    for entity_dict in (entity_dictionary(spark, 20),
                        entity_dictionary(spark, 60_000)):
        sc.setJobGroup("mention_detector", "decide once")
        try:
            before = set(sc.statusTracker().getJobIdsForGroup("mention_detector"))
            detect = mention_detector(entity_dict)
            made = set(sc.statusTracker().getJobIdsForGroup("mention_detector"))
            for _ in range(3):
                detect(docs)
            after = set(sc.statusTracker().getJobIdsForGroup("mention_detector"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert made - before
        assert after == made
        assert [r["canonical"] for r in detect(docs).collect()] == ["ENT_3"]


def test_inline_values_counts_rows(spark):
    """The cap is a row count: at the cap the values come back, one past
    it the caller joins instead."""
    from data2neo_spark.core.types import inline_values

    df = spark.range(5).selectExpr("concat('d', id) AS domain")
    assert sorted(inline_values(df, "domain", 5)) == ["d0", "d1", "d2", "d3", "d4"]
    assert inline_values(df, "domain", 4) is None
    assert inline_values(df.limit(0), "domain", 0) == []
