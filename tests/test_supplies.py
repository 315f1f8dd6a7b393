"""Supplies (identifier) integrity regressions.

The reference keys supplies per-row at node-construction time
(/root/reference/data2neo/core/resource.py:23-27, factory.py:292-294): a row
whose NODE rule was dropped by a subgraph preprocessor registers NO supply,
and a later rule mutating the row does not retroactively change an earlier
supply. The columnar engine must match: supplies are derived from the same
row state the node rule saw, and dropped rows carry a NULL supply uid (so
pass 2 emits no edge, where the reference raises KeyError per row).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data2neo_spark import (
    Attribute,
    AttributeFactoryWrapper,
    Converter,
    GraphStore,
    Node,
    Relationship,
    SubgraphFactoryWrapper,
    register_subgraph_preprocessor,
    register_wrapper,
)
from data2neo_spark.plans.lowering import LoweringError


@register_subgraph_preprocessor
def sup_drop_odd(resource):
    if resource["id"] % 2 == 1:
        return None
    return resource


@register_subgraph_preprocessor
def sup_mutate_id(resource):
    resource["id"] = resource["id"] + 1000
    return resource


def _ids_df(spark, ids):
    return spark.createDataFrame(pd.DataFrame({"id": ids}))


def test_sg_pre_drop_produces_no_dangling_edges(spark):
    """A row dropped by a NODE rule's preprocessor must not produce edges
    referencing the never-created node (reference: KeyError on missing
    supply)."""
    schema = """
ENTITY("t"):
  sup_drop_odd(NODE("K")) k:
    + id = INT(t.id)
  NODE("ALL") a:
    + aid = INT(t.id)
  RELATIONSHIP(a, "SAW", k):
"""
    store = Converter(schema, [("t", _ids_df(spark, [1, 2, 3, 4]))])(spark)
    k_uids = {
        r["_uid"] for r in store.match_nodes("K").select("_uid").collect()
    }
    assert len(k_uids) == 2  # ids 2 and 4
    edges = store.edges.collect()
    # only the two surviving K rows have edges, none dangling
    assert len(edges) == 2
    assert all(e["_dst_uid"] in k_uids for e in edges)


def test_self_edges_after_drop(spark):
    """RELATIONSHIP(k, ..., k) over a dropping rule: dropped rows emit no
    edge at either endpoint."""
    schema = """
ENTITY("t"):
  sup_drop_odd(NODE("K")) k:
    + id = INT(t.id)
  RELATIONSHIP(k, "SELF", k):
"""
    store = Converter(schema, [("t", _ids_df(spark, [1, 2, 3, 4]))])(spark)
    node_uids = {r["_uid"] for r in store.nodes.select("_uid").collect()}
    assert store.nodes.count() == 2
    edges = store.edges.collect()
    assert len(edges) == 2
    for e in edges:
        assert e["_src_uid"] in node_uids and e["_dst_uid"] in node_uids


def test_later_rule_mutation_does_not_skew_supply(spark):
    """A later rule's preprocessor mutating an earlier rule's pk input must
    not change the earlier supply's uid (reference: supplies registered at
    construction time, before later factories run)."""
    schema = """
ENTITY("t"):
  NODE("Orig") o:
    + id = INT(t.id)
  sup_mutate_id(NODE("Shifted")) s:
    + sid = INT(t.id)
  RELATIONSHIP(o, "PAIRS", s):
"""
    store = Converter(schema, [("t", _ids_df(spark, [1, 2]))])(spark)
    orig_uids = {r["_uid"] for r in store.match_nodes("Orig").collect()}
    shifted = {r["sid"] for r in store.match_nodes("Shifted").collect()}
    assert shifted == {1001, 1002}
    edges = store.edges.collect()
    assert len(edges) == 2
    # src side must reference the ORIGINAL node uids (id=1,2), not a uid
    # recomputed from the mutated row (id=1001,1002)
    assert {e["_src_uid"] for e in edges} == orig_uids
    assert {e["_src_key"] for e in edges} == {"1", "2"}


def test_null_pk_rows_are_dropped_and_logged(spark, tmp_path):
    """Merge-mode rows with a NULL pk are dropped from the node table AND
    surfaced in the lineage counters (reference raises per row,
    graph_elements.py:251-252)."""
    from data2neo_spark import GraphStore

    df = spark.createDataFrame(
        pd.DataFrame({"id": [1.0, None, 3.0, None]})
    )
    schema = """
ENTITY("t"):
  NODE("N") n:
    + id = INT(t.id)
  RELATIONSHIP(MATCH("N", id = INT(t.id)), "LOOP", n):
"""
    store = GraphStore(spark, path=str(tmp_path / "store"))
    Converter(schema, [("t", df)], store=store)(spark)
    assert store.nodes.count() == 2
    stages = [s for s in store.counters["stages"] if s["stage"] == "null_pk_dropped"]
    assert stages and stages[0]["n_rows"] == 2
    # null-supply rows emit no edges either
    assert store.edges.count() == 2


def test_forced_shuffle_match_equals_broadcast(spark, shuffle_joins):
    """A7: forcing the shuffle MATCH join yields the exact same edge set as
    the broadcast path, and really plans a sort-merge join."""
    df = spark.createDataFrame(
        pd.DataFrame({"src": [1, 1, 2, 2, 2, 3], "dst": [10, 11, 10, 12, 13, 10]})
    )
    nodes_schema = """
ENTITY("t"):
  NODE("S") s:
    + id = INT(t.src)
  NODE("D") d:
    + id = INT(t.dst)
  RELATIONSHIP(MATCH("S", id = INT(t.src)), "HIT", MATCH("D", id = INT(t.dst))):
"""
    def run():
        store = Converter(nodes_schema, [("t", df)])(spark)
        edges = {
            (r["_src_key"], r["_dst_key"]) for r in store.edges.collect()
        }
        return edges, store.edges._sc._jvm.PythonSQLUtils.explainString(
            store.edges._jdf.queryExecution(), "formatted"
        )

    broadcast, bplan = run()
    with shuffle_joins():
        shuffled, splan = run()
    assert "BroadcastHashJoin" in bplan
    assert "SortMergeJoin" in splan and "BroadcastHashJoin" not in splan
    assert broadcast == shuffled
    assert len(broadcast) == 6


def test_byte_based_broadcast_decision(spark, shuffle_joins):
    """The MATCH join strategy is decided by estimated node-table BYTES
    against the session's ``spark.sql.autoBroadcastJoinThreshold``: a
    tiny threshold gives a shuffle join even though the row count is
    small (a row count alone would broadcast a wide table into the
    driver)."""
    df = spark.createDataFrame(
        pd.DataFrame({
            "src": [1, 2, 3],
            "dst": [10, 11, 12],
            "payload": ["x" * 2000] * 3,   # wide property
        })
    )
    schema = """
ENTITY("t"):
  NODE("S") s:
    + id = INT(t.src)
    - payload = t.payload
  NODE("D") d:
    + id = INT(t.dst)
  RELATIONSHIP(MATCH("S", id = INT(t.src)), "HIT", MATCH("D", id = INT(t.dst))):
"""
    def plan_of(store):
        return store.edges._sc._jvm.PythonSQLUtils.explainString(
            store.edges._jdf.queryExecution(), "formatted"
        )

    # default byte budget: broadcast
    s1 = Converter(schema, [("t", df)])(spark)
    assert "BroadcastHashJoin" in plan_of(s1)
    # 1-byte session budget: Spark falls back to the shuffle join
    with shuffle_joins("1"):
        s2 = Converter(schema, [("t", df)])(spark)
        r2 = {(r["_src_key"], r["_dst_key"]) for r in s2.edges.collect()}
    # same answers either way
    r1 = {(r["_src_key"], r["_dst_key"]) for r in s1.edges.collect()}
    assert r1 == r2 and len(r1) == 3


# ---- dynamic (full-wrapper) rules: the supply is the node the wrapper built


@register_wrapper
class SupTag(SubgraphFactoryWrapper):
    def construct(self, resource):
        subgraph = super().construct(resource)
        for node in subgraph.nodes:
            node["tag"] = "t"
        return subgraph


@register_wrapper
class SupRekey(SubgraphFactoryWrapper):
    def construct(self, resource):
        subgraph = super().construct(resource)
        for node in subgraph.nodes:
            node["name"] = node["name"].upper()
        return subgraph


@register_wrapper
class SupUp(AttributeFactoryWrapper):
    def construct(self, resource):
        attribute = super().construct(resource)
        return Attribute(attribute.key, attribute.value.upper())


@pytest.mark.parametrize("node_a, keys", [
    ('SupTag(NODE("A")) a:\n    - name = e.name', {None}),
    ('SupRekey(NODE("A")) a:\n    + name = e.name', {"X", "Y"}),
    ('NODE("A") a:\n    + name = SupUp(e.name)', {"X", "Y"}),
], ids=["create_mode", "rekeying_wrapper", "attribute_full_wrapper"])
def test_dynamic_rule_supply_is_the_built_node(spark, node_a, keys):
    """A NODE rule on the dynamic (full-wrapper) path supplies the node its
    wrapper built: every edge points at a stored node, and a rewritten pk
    value is the edge's key."""
    schema = f"""
ENTITY("e"):
  {node_a}
  NODE("B") b:
    + other = e.other
  RELATIONSHIP(a, "R", b):
"""
    rows = pd.DataFrame({"name": ["x", "y"], "other": ["p", "q"]})
    store = Converter(schema, [("e", spark.createDataFrame(rows))])(spark)
    uids = {r["_uid"] for r in store.nodes.select("_uid").collect()}
    edges = store.edges.collect()
    assert len(edges) == 2
    for e in edges:
        assert e["_src_uid"] in uids and e["_dst_uid"] in uids
    assert {e["_src_key"] for e in edges} == keys


def test_skip_nodes_attribute_full_wrapper_fails_at_lowering(spark):
    """A ``skip_nodes`` run derives supplies from the row with the columnar
    formula, which cannot run a full attribute wrapper: lowering rejects
    it, before any Spark job."""
    schema = """
ENTITY("e"):
  NODE("A") a:
    + name = SupUp(e.name)
"""
    rows = spark.createDataFrame(pd.DataFrame({"name": ["x"]}))
    with pytest.raises(LoweringError, match="SupUp"):
        Converter(schema, [("e", rows)])(spark, skip_nodes=True)


# ---- one identity formula for every writer


@register_wrapper
class SupKeep(SubgraphFactoryWrapper):
    pass


def _keyed(label, pk, **props):
    node = Node(label, **props)
    node.set_primary_key(pk)
    return node


def test_every_writer_shares_the_node_and_edge_ids(spark):
    """A columnar rule, a full-wrapper rule and ``GraphStore.merge`` that
    each write ``Item`` with ``id=1`` leave one node; a merge-mode edge
    written by the converter and again by ``merge`` leaves one edge."""
    schema = """
ENTITY("t"):
  NODE("Item") i:
    + id = INT(t.id)
  SupKeep(NODE("Item")) w:
    + id = INT(t.id)
  NODE("Cat") c:
    + cat = t.cat
  MERGE_RELATIONSHIPS(RELATIONSHIP(i, "IN", c)):
"""
    rows = pd.DataFrame({"id": [1], "cat": ["c0"]})
    store = GraphStore(spark)
    Converter(schema, [("t", spark.createDataFrame(rows))], store=store)(spark)
    assert store.match_nodes("Item").count() == 1
    item, cat = _keyed("Item", "id", id=1), _keyed("Cat", "cat", cat="c0")
    store.merge(item | cat | Relationship(item, "IN", cat))
    assert store.match_nodes("Item").count() == 1
    assert store.match_nodes("Cat").count() == 1
    assert store.match_relationships("IN").count() == 1
