"""Neo4j export sinks (P8/K-series), push/pull (K6), GlobalSharedState (O7),
salted MATCH joins (A7)."""

import glob
import os

import pandas as pd
import pytest

from data2neo_spark import Converter, Node, register_attribute_postprocessor, Attribute
from data2neo_spark.core.global_state import GlobalSharedState
from data2neo_spark.sinks.neo4j_export import (
    cypher_statements,
    encode_key,
    write_admin_import_csvs,
)

SCHEMA = """
ENTITY("t"):
    NODE("Person") p:
        + id = INT(t.id)
        - name = t.name
    NODE("City") c:
        + city = t.city
    RELATIONSHIP(p, "LIVES_IN", c):
        - since = INT(t.since)
"""

PDF = pd.DataFrame({
    "id": [1, 2], "name": ["Ada O'Hara", "Bob"],
    "city": ["Zurich", "Zurich"], "since": [2001, 2002],
})


@pytest.fixture(scope="module")
def store(spark):
    return Converter(SCHEMA, [("t", spark.createDataFrame(PDF))])(spark)


def test_encode_key():
    assert encode_key("simple_key") == "simple_key"
    assert encode_key("weird key") == "`weird key`"
    assert encode_key("back`tick") == "`back``tick`"
    with pytest.raises(ValueError):
        encode_key("")


def test_cypher_statements(spark, store):
    stmts = [r["stmt"] for r in cypher_statements(store).collect()]
    creates = [s for s in stmts if s.startswith("CREATE (n:")]
    rels = [s for s in stmts if "LIVES_IN" in s]
    assert len(creates) == 3  # 2 persons + 1 merged city
    assert len(rels) == 2
    quoted = [s for s in creates if "Ada O\\'Hara" in s]
    assert len(quoted) == 1  # escaped single quote


def test_admin_import_csvs(spark, store, tmp_path):
    out = str(tmp_path / "export")
    written = write_admin_import_csvs(store, out)
    assert written["nodes_Person"] == 2
    assert written["nodes_City"] == 1
    assert written["rels_LIVES_IN"] == 2
    csv = glob.glob(os.path.join(out, "nodes_Person", "*.csv"))[0]
    header = open(csv).readline().strip()
    assert ":ID" in header and ":LABEL" in header and "name" in header
    # a label's file carries only the properties that label sets
    assert "city" not in header.split(",")
    city = glob.glob(os.path.join(out, "nodes_City", "*.csv"))[0]
    assert open(city).readline().strip() == ":ID,:LABEL,city"
    for name, n in written.items():
        rows = sum(not line.startswith(":")  # each part file's header
                   for f in glob.glob(os.path.join(out, name, "*.csv"))
                   for line in open(f))
        assert rows == n, name


def test_push_pull(spark, store):
    node = Node("Person", id=1)
    node.set_primary_key("id")
    store.pull(node)
    assert node["name"] == "Ada O'Hara"
    assert node.identity is not None

    node["name"] = "Renamed"
    store.push(node)
    refreshed = store.match_nodes("Person", id=1).collect()[0]
    assert refreshed["name"] == "Renamed"


def test_global_shared_state(spark):
    """O7: read-only state set on the driver is visible inside wrapper fns
    running on executors."""
    GlobalSharedState.suffix = "-from-state"

    @register_attribute_postprocessor
    def APPEND_STATE(attr):
        return Attribute(attr.key, attr.value + GlobalSharedState.suffix)

    schema = """
ENTITY("g"):
    NODE("G") n:
        + id = INT(g.id)
        - v = APPEND_STATE(g.v)
"""
    st = Converter(
        schema, [("g", spark.createDataFrame(pd.DataFrame({"id": [1], "v": ["x"]})))]
    )(spark)
    assert st.nodes.collect()[0]["v"] == "x-from-state"


def test_salted_match_join_same_result(spark, shuffle_joins):
    """A7: a shuffled MATCH join changes the physical plan, not the answer."""
    ent = pd.DataFrame({"id": [1, 2]})
    rel = pd.DataFrame({"src": [1, 1, 1, 1, 2], "dst": [2, 2, 2, 2, 1]})
    schema = """
ENTITY("e"):
    NODE("E") n:
        + id = INT(e.id)

ENTITY("r"):
    RELATIONSHIP(MATCH("E", id = INT(r.src)), "TO", MATCH("E", id = INT(r.dst))):
"""

    def run():
        store = Converter(
            schema,
            [("e", spark.createDataFrame(ent)), ("r", spark.createDataFrame(rel))],
        )(spark)
        return sorted(
            (r["_src_key"], r["_dst_key"]) for r in store.edges.collect()
        )

    with shuffle_joins():
        shuffled = run()
    assert run() == shuffled == [("1", "2")] * 4 + [("2", "1")]


def test_live_sink_batches(spark, store):
    """Bulk-UNWIND statement generator (live Neo4j sink, reference
    cypher.py:98-175 shapes) — verified without a database."""
    from data2neo_spark.sinks.neo4j_live import edge_batches, node_batches

    nb = list(node_batches(store.nodes, batch_size=10))
    stmts = {s for s, _ in nb}
    all_rows = [r for _, rows in nb for r in rows]
    assert len(all_rows) == 3  # 2 Person + 1 City
    person_stmt = next(s for s in stmts if ":Person" in s)
    assert "MERGE (n:Person {id: r.__pk})" in person_stmt
    assert "SET n += r.props" in person_stmt
    person_rows = [r for s, rows in nb if ":Person" in s for r in rows]
    assert {r["__pk"] for r in person_rows} == {1, 2}
    assert all("props" in r and "__uid" in r for r in all_rows)

    eb = list(edge_batches(store.edges, batch_size=10))
    assert len(eb) == 1
    stmt, rows = eb[0]
    assert "MERGE (a)-[e:LIVES_IN {_eid: r.__eid}]->(b)" in stmt
    assert "MATCH (a {_uid: r.__src}), (b {_uid: r.__dst})" in stmt
    assert len(rows) == 2
    assert all(r["props"]["since"] in (2001, 2002) for r in rows)


def test_live_sink_batch_size_flush(spark, store):
    from data2neo_spark.sinks.neo4j_live import node_batches

    nb = list(node_batches(store.nodes, batch_size=1))
    assert all(len(rows) == 1 for _, rows in nb)
    assert sum(len(rows) for _, rows in nb) == 3


def test_matcher_standalone(spark, store):
    """Reference top-level Matcher parity (matcher.py:11-103), DataFrame-
    native: labels + literal conditions against a GraphStore."""
    from data2neo_spark import Matcher

    rows = Matcher("Person", name="Bob").match(store).collect()
    assert len(rows) == 1 and rows[0]["id"] == 2
    Matcher.graph_store = store
    try:
        assert Matcher("City").match().count() == 1
    finally:
        Matcher.graph_store = None
    with pytest.raises(ValueError):
        Matcher()
    with pytest.raises(ValueError):
        Matcher("Person").match()


def test_subgraph_push_pull(spark):
    """K6 subgraph-level push/pull (reference neo4j/__init__.py:30-48)."""
    from data2neo_spark import Converter, GraphStore, Node, Relationship, Subgraph

    store = Converter(SCHEMA, [("t", spark.createDataFrame(PDF))])(spark)
    a = Node("Person", id=1, name="Changed A")
    a.set_primary_key("id")
    b = Node("Person", id=2, name="Changed B")
    b.set_primary_key("id")
    store.push(Subgraph([a, b], []))
    names = {r["id"]: r["name"] for r in store.match_nodes("Person").collect()}
    assert names == {1: "Changed A", 2: "Changed B"}

    fresh_a = Node("Person", id=1)
    fresh_a.set_primary_key("id")
    fresh_b = Node("Person", id=2)
    fresh_b.set_primary_key("id")
    store.pull(Subgraph([fresh_a, fresh_b], []))
    assert fresh_a["name"] == "Changed A" and fresh_b["name"] == "Changed B"


def test_root_import_parity():
    """Reference package-root exports (reference __init__.py:1-15) resolve."""
    import data2neo_spark as d2s

    for name in ("Resource", "Matcher", "GlobalSharedState", "Converter",
                 "ResourceIterator", "IteratorIterator", "Attribute",
                 "AttributeFactoryWrapper", "SubgraphFactoryWrapper",
                 "SchemaConfigException",
                 "register_attribute_postprocessor",
                 "register_attribute_preprocessor",
                 "register_subgraph_postprocessor",
                 "register_subgraph_preprocessor", "register_wrapper"):
        assert hasattr(d2s, name), name


def test_subgraph_pull_refreshes_relationships(spark):
    """Subgraph pull refreshes relationship properties too (reference
    neo4j/__init__.py:41-48 pulls the whole subgraph)."""
    from data2neo_spark import Converter, Node, Relationship, Subgraph

    store = Converter(SCHEMA, [("t", spark.createDataFrame(PDF))])(spark)
    p = Node("Person", id=1)
    p.set_primary_key("id")
    c = Node("City", city="Zurich")
    c.set_primary_key("city")
    rel = Relationship(p, "LIVES_IN", c)
    store.pull(Subgraph([p, c], [rel]))
    assert p["name"] == "Ada O'Hara"
    assert rel["since"] == 2001


def test_ntriples_export(spark, tmp_path):
    """RDF N-Triples sink: IRIs percent-encode forbidden chars, literals
    ECHAR-escape quote/backslash/newline, numerics carry XSD datatypes,
    nulls emit no property line, and the text write round-trips."""
    from data2neo_spark.sinks.rdf_export import ntriples_lines, write_ntriples

    schema = """
ENTITY("t"):
    NODE("Person") p:
        + id = INT(t.id)
        - bio = t.bio
        - score = FLOAT(t.score)
        - active = BOOL(t.flag)
    NODE("City") c:
        + city = t.city
    RELATIONSHIP(p, "LIVES IN", c):
"""
    pdf = pd.DataFrame({
        "id": [1, 2],
        "bio": ['say "hi"\\now', None],
        "score": [1.5, 2.0],
        "flag": [1, 0],
        "city": ["St. Gallen", "Zurich base"],
    })
    store = Converter(schema, [("t", spark.createDataFrame(pdf))])(spark)
    lines = {r.ntriple for r in ntriples_lines(store).collect()}

    # edge: rel type with a space percent-encodes; node IRI encodes too
    assert (
        "<http://example.org/node/Person:1> <http://example.org/rel/LIVES%20IN> "
        "<http://example.org/node/City:St.%20Gallen> ." in lines
    )
    # literal escaping: backslash before quote handling, quotes escaped
    assert (
        '<http://example.org/node/Person:1> <http://example.org/prop/bio> '
        '"say \\"hi\\"\\\\now" .' in lines
    )
    # typed literals
    assert any("prop/score> \"1.5\"^^<http://www.w3.org/2001/XMLSchema#double>" in l
               for l in lines)
    assert any("prop/active> \"true\"^^<http://www.w3.org/2001/XMLSchema#boolean>" in l
               for l in lines)
    # null bio on Person:2 -> no line
    assert not any("Person:2> <http://example.org/prop/bio>" in l for l in lines)

    out = str(tmp_path / "nt")
    write_ntriples(store, out)
    written = set()
    for f in glob.glob(os.path.join(out, "part-*")):
        with open(f) as fh:
            written.update(l.rstrip("\n") for l in fh if l.strip())
    assert written == lines
