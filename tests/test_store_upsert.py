"""Golden tables for every write into a GraphStore: both Converter passes
(fresh, rerun, bucketed increment, shared nodes) and the subgraph
``create`` / ``merge`` API on in-memory, disk and bucketed stores.

Each case pins a digest of the BUCKET-free node and edge tables (without
the ``_seq_src`` / ``_seq_row`` merge-order columns) and the ``stages``
records the run logged: names, keys, and every value except timings."""

import hashlib
import os

import pandas as pd
import pytest

from data2neo_spark import Converter, GraphStore, Node, Relationship

SCHEMA_ID = """
ENTITY("t"):
  NODE("Item") i:
    + id = INT(t.id)
    - name = t.name
  NODE("Cat") c:
    + cat = t.cat
  NODE("Visit") v:
    - name = t.name
  RELATIONSHIP(i, "IN_CAT", c):
  RELATIONSHIP(v, "OF", i):
"""

SCHEMA_MATCH = SCHEMA_ID + """\
  RELATIONSHIP(i, "NEXT", MATCH("Item", id = INT(t.nxt))):
"""

SEQ_COLS = {"_seq_src", "_seq_row"}
UID_COLS = {"_uid", "_eid", "_src_uid", "_dst_uid"}


def _df(spark, ids, tag, null_rows=0):
    # one partition: the per-row sequence (and so every CREATE-mode uid)
    # does not depend on the session's default parallelism
    rows = [float(i) for i in ids] + [None] * null_rows
    return spark.createDataFrame(pd.DataFrame({
        "id": rows,
        "name": [f"{tag}-{i}" for i in range(len(rows))],
        "cat": [f"c{i % 3}" for i in range(len(rows))],
        "nxt": [r + 1 if r is not None else None for r in rows],
    })).coalesce(1)


def _canon(df, drop):
    return sorted(
        repr(sorted((k, v) for k, v in r.asDict().items() if k not in drop))
        for r in df.collect()
    )


def _tables(store, ids=True):
    """(n_nodes, n_edges, digest). ``ids=False`` replaces every uid by the
    content of the node it names, for stores holding create() elements
    (their uids are random per call)."""
    if ids:
        nodes = _canon(store.nodes, SEQ_COLS)
        edges = _canon(store.edges, SEQ_COLS)
    else:
        by_uid = {
            r["_uid"]: repr(sorted((k, v) for k, v in r.asDict().items()
                                   if k not in SEQ_COLS | UID_COLS))
            for r in store.nodes.collect()
        }
        nodes = sorted(by_uid.values())
        edges = sorted(
            repr((by_uid.get(r["_src_uid"]), by_uid.get(r["_dst_uid"]),
                  sorted((k, v) for k, v in r.asDict().items()
                         if k not in SEQ_COLS | UID_COLS)))
            for r in store.edges.collect()
        )
    h = hashlib.sha256("\n".join(nodes + ["--"] + edges).encode()).hexdigest()
    return len(nodes), len(edges), h[:16]


def _stages(store, since=0):
    """One line per stage record: its name, then each key, with the value
    for everything but the timings."""
    return [
        " ".join([rec["stage"]] + [
            k if k in ("ts", "wall_s") else f"{k}={rec[k]}"
            for k in sorted(rec) if k != "stage"
        ])
        for rec in store.counters.get("stages", [])[since:]
    ]


def test_fresh_memory_identifier_only(spark):
    store = Converter(SCHEMA_ID, [("t", _df(spark, range(12), "v1"))])(spark)
    assert _tables(store) == (27, 24, "63bd85d948cdadef")
    assert _stages(store) == ["run ts wall_s"]


@pytest.mark.parametrize("source", ["pandas", "parquet"])
def test_fresh_memory_match(spark, tmp_path, source):
    """A pandas source has no size statistics, so the node table is cached
    eagerly; a parquet source has them, and the cache fills lazily."""
    df = _df(spark, range(12), "v1")
    if source == "parquet":
        df.write.parquet(str(tmp_path / "src"))
        df = spark.read.parquet(str(tmp_path / "src"))
    store = Converter(SCHEMA_MATCH, [("t", df)])(spark)
    assert _tables(store) == (27, 35, "ce7b7bc235702d2b")
    assert _stages(store) == [
        "nodes n_nodes=27 ts wall_s" if source == "pandas"
        else "nodes lazy_cache=True ts wall_s",
        "run ts wall_s",
    ]


def test_fresh_disk(spark, tmp_path):
    store = GraphStore(spark, path=str(tmp_path / "store"))
    Converter(SCHEMA_MATCH, [("t", _df(spark, range(12), "v1", null_rows=2))],
              store=store)(spark)
    assert _tables(store) == (29, 35, "293a8cd96cace15b")
    assert _stages(store) == [
        "nodes n_nodes=29 ts wall_s",
        "null_pk_dropped n_rows=2 rule=t/n0 ts",
        "edges n_edges=35 ts wall_s",
        "run ts wall_s",
    ]


def test_disk_rerun_is_idempotent(spark, tmp_path):
    store = GraphStore(spark, path=str(tmp_path / "store"))
    for _ in range(2):
        since = len(store.counters.get("stages", []))
        Converter(SCHEMA_MATCH, [("t", _df(spark, range(12), "v1"))],
                  store=store)(spark)
        assert _tables(store) == (27, 35, "ce7b7bc235702d2b")
    assert _stages(store, since) == [
        "nodes n_nodes=27 ts wall_s",
        "edges n_edges=35 ts wall_s",
        "run ts wall_s",
    ]


def test_bucketed_increment(spark, tmp_path):
    store = GraphStore(spark, path=str(tmp_path / "store"), buckets=8)
    Converter(SCHEMA_MATCH, [("t", _df(spark, range(20), "v1"))],
              store=store)(spark)
    assert _tables(store) == (43, 59, "442d59f944389064")
    since = len(store.counters["stages"])
    Converter(SCHEMA_MATCH, [("t", _df(spark, [5, 6, 7, 20], "v2"))],
              store=store, run_id=1)(spark)
    assert _tables(store) == (48, 70, "cef508a305526102")
    assert _stages(store, since) == [
        "nodes n_buckets=8 n_touched_buckets=7 ts wall_s",
        "edges n_buckets=8 n_touched_buckets=5 ts wall_s",
        "run ts wall_s",
    ]
    # the increment is visible after a reopen, too
    assert _tables(GraphStore(spark, path=str(tmp_path / "store"), buckets=8)) \
        == _tables(store)


def test_skip_nodes_over_shared_nodes(spark):
    base = Converter(SCHEMA_MATCH, [("t", _df(spark, range(12), "v1"))])(spark)
    store = GraphStore(spark).share_nodes_from(base)
    Converter(SCHEMA_MATCH, [("t", _df(spark, range(6), "v2"))],
              store=store)(spark, skip_nodes=True)
    assert _tables(store) == (27, 18, "10083c71d10eee94")
    assert _stages(store) == ["nodes shared=True ts wall_s", "run ts wall_s"]


def _merge_graph():
    old = Node("Item", id=3, name="m-3")
    new = Node("Item", id=42, name="m-42")
    cat = Node("Cat", cat="c0")
    for n, pk in ((old, "id"), (new, "id"), (cat, "cat")):
        n.set_primary_key(pk)
    return old | new | cat | Relationship(new, "IN_CAT", cat, w=1) \
        | Relationship(old, "IN_CAT", cat, w=2)


def _create_graph():
    a = Node("Item", id=100, name="new")
    b = Node("Note", text="x")
    return a | b | Relationship(b, "ABOUT", a)


@pytest.mark.parametrize("kind", ["memory", "disk", "bucketed"])
def test_create_and_merge(spark, tmp_path, kind):
    path = None if kind == "memory" else str(tmp_path / "store")
    store = GraphStore(spark, path=path, buckets=8 if kind == "bucketed" else 0)
    Converter(SCHEMA_ID, [("t", _df(spark, range(10), "v1"))], store=store)(spark)
    stages = _stages(store)
    store.merge(_merge_graph())
    assert _tables(store) == (24, 22, "4c473d7398c65c99")
    names = {r["id"]: r["name"] for r in store.match_nodes("Item").collect()}
    assert names[3] == "m-3" and names[42] == "m-42" and names[4] == "v1-4"
    store.create(_create_graph())
    assert _tables(store, ids=False) == (26, 23, "a50843c725feaedb")
    # the subgraph API logs no stage records
    assert _stages(store) == stages


def _bucket_files(path, table):
    base = os.path.join(path, table)
    return {d: sorted(os.listdir(os.path.join(base, d)))
            for d in os.listdir(base) if d.startswith("_nbucket=")}


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    path = str(tmp_path / "store")
    store = GraphStore(spark, path=path, buckets=16)
    Converter(SCHEMA_ID, [("t", _df(spark, range(64), "v1"))], store=store)(spark)
    nodes_before = _bucket_files(path, "nodes")
    edges_before = _bucket_files(path, "edges")
    assert len(nodes_before) > 8

    # the batch adds no property column and keeps the table's column types,
    # so only the buckets it touches are rewritten
    x, y = Node("Item", id=5, name="m-5"), Node("Item", id=9, name="m-9")
    x.set_primary_key("id")
    y.set_primary_key("id")
    store.merge(x | y | Relationship(x, "NEXT", y))
    nodes_after = _bucket_files(path, "nodes")
    changed = [b for b in nodes_before if nodes_after.get(b) != nodes_before[b]]
    assert changed and len(changed) <= 2
    edges_after = _bucket_files(path, "edges")
    e_changed = [b for b in edges_before if edges_after.get(b) != edges_before[b]]
    assert e_changed and len(e_changed) <= 1
    names = {r["id"]: r["name"] for r in store.match_nodes("Item").collect()}
    assert names[5] == "m-5" and names[9] == "m-9" and names[4] == "v1-4"
    assert len(names) == 64 and store.match_relationships("NEXT").count() == 1


@pytest.mark.parametrize("kind", ["memory", "bucketed"])
def test_mixed_label_merge_keeps_integer_ids(spark, tmp_path, kind):
    """A subgraph whose nodes do not all carry ``id`` keeps the stored
    ``bigint`` column, and leaves the properties a node lacks null; on a
    bucketed store it then rewrites only the buckets it touches."""
    path = None if kind == "memory" else str(tmp_path / "store")
    store = GraphStore(spark, path=path, buckets=16 if path else 0)
    Converter(SCHEMA_ID, [("t", _df(spark, range(64), "v1"))], store=store)(spark)
    before = _bucket_files(path, "nodes") if path else {}
    item, cat = Node("Item", id=3, name="m-3"), Node("Cat", cat="c0")
    item.set_primary_key("id")
    cat.set_primary_key("cat")
    store.merge(item | cat | Relationship(item, "IN_CAT", cat))
    assert dict(store.nodes.dtypes)["id"] == "bigint"
    ids = sorted(r["id"] for r in store.match_nodes("Item").collect())
    assert ids == list(range(64))
    c0 = store.match_nodes("Cat", cat="c0").collect()
    assert len(c0) == 1 and c0[0]["id"] is None and c0[0]["name"] is None
    assert store.match_nodes("Item", id=3).collect()[0]["cat"] is None
    if path:
        after = _bucket_files(path, "nodes")
        changed = [b for b in before if after.get(b) != before[b]]
        assert changed and len(changed) <= 2


def test_bucketed_increment_with_a_new_property(spark, tmp_path):
    """An increment that adds a property column rewrites every bucket, so
    all files of the table keep one schema and the column reads back."""
    path = str(tmp_path / "store")
    store = GraphStore(spark, path=path, buckets=8)
    Converter(SCHEMA_ID, [("t", _df(spark, range(20), "v1"))], store=store)(spark)
    wider = SCHEMA_ID.replace("    - name = t.name\n  NODE(\"Cat\")",
                              "    - name = t.name\n    - tag = t.name\n  NODE(\"Cat\")")
    assert wider != SCHEMA_ID
    Converter(wider, [("t", _df(spark, [5, 6], "v2"))], store=store,
              run_id=1)(spark)
    for s in (store, GraphStore(spark, path=path, buckets=8)):
        tags = {r["id"]: r["tag"] for r in s.match_nodes("Item").collect()}
        assert len(tags) == 20
        assert tags[5] == "v2-0" and tags[6] == "v2-1" and tags[4] is None
