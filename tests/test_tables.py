"""Crash points of the rename-aside table swap (``core/tables.py``), for a
GraphStore node table and an IDRegistry table: reopening the root puts
the table back together whatever state a killed write left on disk."""

import os
import shutil

import pandas as pd
import pytest

from data2neo_spark import Converter, GraphStore, IDRegistry

SCHEMA = """
ENTITY("T"):
    NODE("N") n:
        + id = INT(T.id)
        - name = T.name
"""


def _write_nodes(spark, root):
    v1 = pd.DataFrame({"id": [1, 2, 3], "name": ["a", "b", "c"]})
    Converter(SCHEMA, [("T", spark.createDataFrame(v1))],
              store=GraphStore(spark, path=root))(spark)


def _read_nodes(spark, root):
    return sorted((r["id"], r["name"]) for r in GraphStore(spark, path=root).nodes.collect())


def _write_registry(spark, root):
    keys = spark.createDataFrame(pd.DataFrame({"k": ["x", "y", "z"]}))
    IDRegistry(spark, path=root).register(keys, "k")


def _read_registry(spark, root):
    return sorted((r["key"], r["sid"]) for r in IDRegistry(spark, path=root).table.collect())


# (table directory, write, read, another table's staging dir)
TABLES = {
    "graphstore_nodes": ("nodes", _write_nodes, _read_nodes, "_tmp_registry_1"),
    "idregistry": ("registry", _write_registry, _read_registry, "_tmp_nodes_1"),
}


@pytest.fixture(params=sorted(TABLES))
def table(request, spark, tmp_path):
    name, write, read, foreign = TABLES[request.param]
    root = str(tmp_path / "root")
    write(spark, root)
    rows = read(spark, root)
    assert len(rows) == 3
    # a completed swap leaves no staging or backup directory behind
    assert not [e for e in os.listdir(root) if e.startswith(("_tmp_", "_old_"))]
    return root, name, (lambda: read(spark, root)), rows, foreign


def test_live_table_renamed_aside_is_restored(table):
    root, name, read, rows, _ = table
    # killed after the live table went aside, before the new one came in
    os.rename(os.path.join(root, name), os.path.join(root, f"_old_{name}"))
    assert read() == rows
    assert os.path.isdir(os.path.join(root, name))
    assert not os.path.exists(os.path.join(root, f"_old_{name}"))


def test_stale_backup_next_to_new_table_is_dropped(table):
    root, name, read, rows, _ = table
    # killed after the new table came in, before the backup was dropped
    shutil.copytree(os.path.join(root, name), os.path.join(root, f"_old_{name}"))
    assert read() == rows
    assert not os.path.exists(os.path.join(root, f"_old_{name}"))


def test_stranded_staging_dir_is_swept(table):
    root, name, read, rows, foreign = table
    # killed while writing the staging copy; another table's staging dir
    # under the same root belongs to that table's writer
    shutil.copytree(os.path.join(root, name), os.path.join(root, f"_tmp_{name}_123"))
    os.makedirs(os.path.join(root, foreign))
    assert read() == rows
    assert not os.path.exists(os.path.join(root, f"_tmp_{name}_123"))
    assert os.path.isdir(os.path.join(root, foreign))
