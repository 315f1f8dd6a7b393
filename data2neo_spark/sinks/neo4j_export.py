"""Neo4j export sinks — the bridge back to the reference's target database.

Two formats, both distributed writes (no driver collect):

* ``write_admin_import_csvs`` — ``neo4j-admin database import``-compatible
  CSVs: one node file per primary label with ``:ID/:LABEL`` headers, one
  relationship file per type with ``:START_ID/:END_ID/:TYPE``. The bulk path
  for 10^9+ element graphs.
* ``cypher_statements`` — a DataFrame of executable Cypher ``CREATE``/
  ``MERGE`` statements with properly escaped literals (reference
  neo4j/encoder.py:81-139 semantics); useful for small graphs and for
  eyeballing parity with the reference's generated queries.
"""

from __future__ import annotations

import os
import re
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import lowering as L

_SAFE_KEY = re.compile(r"^[A-Za-z_][0-9A-Za-z_]*$")


def encode_key(key: str) -> str:
    """Backtick-escape a Cypher identifier when needed
    (reference encoder.py:81-88)."""
    if not key:
        raise ValueError("Keys cannot be empty")
    if _SAFE_KEY.match(key):
        return key
    return "`" + key.replace("`", "``") + "`"


def _encode_key_col(col: Column) -> Column:
    """Backtick-escape labels/rel-types that aren't safe identifiers —
    Column-level twin of ``encode_key`` (values are data-dependent)."""
    safe = col.rlike("^[A-Za-z_][0-9A-Za-z_]*$")
    escaped = F.concat(
        F.lit("`"), F.regexp_replace(col, "`", "``"), F.lit("`")
    )
    return F.when(safe, col).otherwise(escaped)


def _encode_string_col(col: Column) -> Column:
    """Single-quoted Cypher string literal as a Column expression."""
    escaped = F.regexp_replace(col, r"\\", r"\\\\")
    escaped = F.regexp_replace(escaped, "'", r"\\'")
    return F.concat(F.lit("'"), escaped, F.lit("'"))


def _encode_value_col(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, T.BooleanType):
        return F.when(col, F.lit("true")).when(~col, F.lit("false"))
    if isinstance(dtype, T.NumericType):
        return col.cast("string")
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        kind = "date" if isinstance(dtype, T.DateType) else "datetime"
        return F.concat(
            F.lit(f"{kind}('"),
            F.date_format(col, "yyyy-MM-dd" if kind == "date" else "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit("')"),
        )
    return _encode_string_col(col.cast("string"))


def _props_map_expr(df: DataFrame, exclude: set) -> Column:
    """``{k: v, ...}`` Cypher map literal over the non-null properties."""
    pieces = []
    for field in df.schema.fields:
        if field.name in exclude:
            continue
        enc = _encode_value_col(F.col(field.name), field.dataType)
        pieces.append(
            F.when(
                F.col(field.name).isNotNull(),
                F.concat(F.lit(encode_key(field.name) + ": "), enc),
            )
        )
    if not pieces:
        return F.lit("{}")
    joined = F.concat_ws(", ", F.filter(F.array(*pieces), lambda x: x.isNotNull()))
    return F.concat(F.lit("{"), joined, F.lit("}"))


def cypher_statements(store) -> DataFrame:
    """One Cypher statement per graph element (distributed)."""
    meta = set(L.NODE_META)
    nodes = store.nodes
    labels = F.concat_ws(
        "",
        F.transform(
            F.col(L.LABELS), lambda l: F.concat(F.lit(":"), _encode_key_col(l))
        ),
    )
    node_stmts = nodes.select(
        F.concat(
            F.lit("CREATE (n"),
            labels,
            F.lit(" "),
            _props_map_expr(nodes, meta),
            F.lit(") SET n._uid = "),
            F.col(L.UID).cast("string"),
            F.lit(";"),
        ).alias("stmt")
    )
    if store.edges is None:
        return node_stmts
    emeta = set(L.EDGE_META)
    edges = store.edges
    edge_stmts = edges.select(
        F.concat(
            F.lit("MATCH (a {_uid: "), F.col(L.SRC_UID).cast("string"),
            F.lit("}), (b {_uid: "), F.col(L.DST_UID).cast("string"),
            F.lit("}) CREATE (a)-[:"), _encode_key_col(F.col(L.RELTYPE)),
            F.lit(" "), _props_map_expr(edges, emeta),
            F.lit("]->(b);"),
        ).alias("stmt")
    )
    return node_stmts.unionByName(edge_stmts)


def write_admin_import_csvs(store, out_dir: str) -> dict:
    """neo4j-admin import layout: nodes_<label>.csv + rels_<type>.csv.

    Returns {file: row_count}. Partitioned parquet→csv writes; one directory
    per label/type (Spark writes part files — neo4j-admin accepts globs).
    One aggregate per table finds the labels/types and their row counts,
    then one write per file.
    """
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    meta = set(L.NODE_META)
    nodes = store.nodes
    prop_fields = [f.name for f in nodes.schema.fields if f.name not in meta]
    # node table is wide across all labels — each label's row also counts
    # the properties it sets, so its CSV drops the ones it never uses (no
    # empty-string properties on import)
    per_label = nodes.groupBy(L.PLABEL).agg(
        F.count(F.lit(1)), *[F.count(F.col(p)) for p in prop_fields]
    ).collect()
    for lbl, n, *used in per_label:
        cols = [
            F.col(L.UID).cast("string").alias(":ID"),
            F.concat_ws(";", F.col(L.LABELS)).alias(":LABEL"),
        ] + [F.col(p) for p, k in zip(prop_fields, used) if k > 0]
        path = os.path.join(out_dir, f"nodes_{lbl}")
        nodes.where(F.col(L.PLABEL) == lbl).select(*cols) \
            .write.mode("overwrite").option("header", True).csv(path)
        written[f"nodes_{lbl}"] = n
    if store.edges is not None:
        emeta = set(L.EDGE_META)
        edges = store.edges
        cols = [
            F.col(L.SRC_UID).cast("string").alias(":START_ID"),
            F.col(L.DST_UID).cast("string").alias(":END_ID"),
            F.col(L.RELTYPE).alias(":TYPE"),
        ] + [F.col(f.name) for f in edges.schema.fields if f.name not in emeta]
        for t, n in edges.groupBy(L.RELTYPE).count().collect():
            safe = re.sub(r"\W+", "_", t)
            path = os.path.join(out_dir, f"rels_{safe}")
            edges.where(F.col(L.RELTYPE) == t).select(*cols) \
                .write.mode("overwrite").option("header", True).csv(path)
            written[f"rels_{safe}"] = n
    return written
