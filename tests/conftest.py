import contextlib
import os
import sys

import pytest

_TESTS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TESTS)
sys.path.insert(0, _REPO)
# executor python workers must import the repo package AND the test modules
# (user wrapper fns are pickled by reference)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_REPO, _TESTS, os.environ.get("PYTHONPATH", "")]
)

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("data2neo_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session


@pytest.fixture
def shuffle_joins(spark):
    """Context manager under which Spark broadcasts no join side larger
    than ``threshold`` bytes (``spark.sql.autoBroadcastJoinThreshold``;
    -1, the default, broadcasts none). Wrap both the conversion and the
    action, since AQE re-plans joins at run time."""
    @contextlib.contextmanager
    def _shuffle_joins(threshold: str = "-1"):
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, threshold)
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _shuffle_joins


def node_set(nodes_df):
    """Canonical comparable form of a node table: set of
    (frozenset(labels), frozenset(property items)) — mirrors the reference's
    golden-graph comparator (tests/integration/helpers.py:79-140)."""
    meta = {"_uid", "_labels", "_primary_label", "_pk_prop", "_pk_val",
            "_seq_src", "_seq_row"}
    out = set()
    for row in nodes_df.collect():
        d = row.asDict()
        props = frozenset(
            (k, v) for k, v in d.items() if k not in meta and v is not None
        )
        out.add((frozenset(d["_labels"]), props))
    return out


def edge_set(store):
    """Set of (src_ident, type, frozenset(props), dst_ident)."""
    meta = {"_eid", "_src_uid", "_rel_type", "_dst_uid", "_src_label",
            "_src_key", "_dst_label", "_dst_key", "_pk_prop", "_seq_src",
            "_seq_row"}
    uid_to_node = {}
    for row in store.nodes.collect():
        d = row.asDict()
        props = frozenset(
            (k, v) for k, v in d.items()
            if k not in ("_uid", "_labels", "_primary_label", "_pk_prop",
                         "_pk_val", "_seq_src", "_seq_row") and v is not None
        )
        uid_to_node[d["_uid"]] = (frozenset(d["_labels"]), props)
    out = []
    for row in store.edges.collect():
        d = row.asDict()
        props = frozenset(
            (k, v) for k, v in d.items() if k not in meta and v is not None
        )
        out.append(
            (uid_to_node[d["_src_uid"]], d["_rel_type"], props,
             uid_to_node[d["_dst_uid"]])
        )
    return out
