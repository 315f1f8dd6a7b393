"""Dynamic (interpreter) lowering for wrapper-heavy rules.

Rules whose wrappers cannot be vectorized — full wrapper classes and general
subgraph postprocessors (reference factory_wrappers.py:21-142) — execute the
reference's per-row factory semantics inside ``mapInPandas`` Arrow batches.
Output properties are dynamic (a postprocessor may add keys or rename them),
so rows are emitted in a long JSON format and re-typed via schema inference
before joining the canonical node/edge union.

This path is deliberately rare: the compiler routes a rule here only when it
detects a non-vectorizable wrapper; everything else stays on the columnar
path (plans/lowering.py).
"""

from __future__ import annotations

import json
from typing import Any, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import registrar
from ..core.global_state import install as _install_gstate, snapshot as _snapshot_gstate
from ..core.graph_elements import GhostPrimaryKey, coerce_value
from ..core.row_factories import Resource, build_node_constructor
from ..core.types import python_str_column
from . import lowering as L
from .rules import NodeRule, RelRule

_LONG_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("local_idx", T.LongType()),
    T.StructField("labels_json", T.StringType()),
    T.StructField("plabel", T.StringType()),
    T.StructField("pkprop", T.StringType()),
    T.StructField("pkval", T.StringType()),
    T.StructField("props_json", T.StringType()),
    T.StructField("rel_type", T.StringType()),
    T.StructField("src_local", T.LongType()),
    T.StructField("dst_local", T.LongType()),
    T.StructField("ghost", T.BooleanType()),
    T.StructField(L.SEQ_SRC, T.LongType()),
    T.StructField(L.SEQ_ROW, T.LongType()),
])


def needs_dynamic(rule) -> bool:
    """True when the rule carries a wrapper the columnar path can't express."""
    for w in rule.wrappers:
        wdef = registrar.get_wrapper(w.name)
        if wdef.kind == registrar.FULL_WRAPPER:
            return True
        if wdef.kind == registrar.SG_POST and not wdef.sets_ghost_primary_key:
            return True
    specs = list(getattr(rule, "attributes", []) or [])
    specs += list(getattr(rule, "labels", []) or [])
    if getattr(rule, "type_attr", None) is not None:
        specs.append(rule.type_attr)
    for spec in specs:
        for w in spec.wrappers:
            if registrar.get_wrapper(w.name).kind == registrar.FULL_WRAPPER:
                return True
    return False


def _pk_str(value: Any) -> Optional[str]:
    if value is None:
        return None
    if isinstance(value, bool):
        return "True" if value else "False"
    return str(value)


def _props_json(element) -> str:
    return json.dumps(
        {k: coerce_value(v) for k, v in element.properties.items() if v is not None},
        default=str,
    )


def lower_node_rule_dynamic(df: DataFrame, rule: NodeRule) -> DataFrame:
    """NODE rule → long-format rows (nodes the rule's subgraph contains plus
    any relationships a postprocessor added)."""
    constructor = build_node_constructor(rule)
    col_names = [f.name for f in df.schema.fields if f.name not in (L.SEQ_SRC, L.SEQ_ROW)]
    gstate = _snapshot_gstate()

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _install_gstate(gstate)
        for pdf in batches:
            out: List[dict] = []
            for rec in pdf.to_dict("records"):
                seq_src, seq_row = rec[L.SEQ_SRC], rec[L.SEQ_ROW]
                resource = Resource({k: rec[k] for k in col_names})
                try:
                    subgraph = constructor.construct(resource)
                except Exception as exc:
                    # O8 exception enrichment (reference converter.py:161-166):
                    # annotate factory errors with the failing resource
                    raise RuntimeError(
                        f"Error while processing entity '{rule.entity_type}' "
                        f"rule '{rule.rule_id}' on resource "
                        f"{dict(list(resource.items())[:8])!r}: {exc}"
                    ) from exc
                nodes = subgraph.nodes
                node_idx = {id(n): i for i, n in enumerate(nodes)}
                for i, node in enumerate(nodes):
                    pk = node.__primarykey__
                    pk = pk if isinstance(pk, str) else None
                    out.append({
                        "kind": "n", "local_idx": i,
                        "labels_json": json.dumps(node.labels),
                        "plabel": node.__primarylabel__,
                        "pkprop": pk,
                        "pkval": _pk_str(node.properties.get(pk)) if pk else None,
                        "props_json": _props_json(node),
                        "rel_type": None, "src_local": None, "dst_local": None,
                        "ghost": None,
                        L.SEQ_SRC: seq_src, L.SEQ_ROW: seq_row,
                    })
                for rel in subgraph.relationships:
                    rel_pk = rel.__primarykey__
                    ghost = isinstance(rel_pk, GhostPrimaryKey)
                    out.append({
                        "kind": "r", "local_idx": None,
                        "labels_json": None, "plabel": None,
                        "pkprop": rel_pk if isinstance(rel_pk, str) else None,
                        "pkval": None,
                        "props_json": _props_json(rel),
                        "rel_type": rel.type,
                        "src_local": node_idx[id(rel.start_node)],
                        "dst_local": node_idx[id(rel.end_node)],
                        "ghost": ghost,
                        L.SEQ_SRC: seq_src, L.SEQ_ROW: seq_row,
                    })
            yield pd.DataFrame(out, columns=[f.name for f in _LONG_SCHEMA.fields])

    return df.mapInPandas(_run, schema=_LONG_SCHEMA)


_CODE_TO_TYPE = {
    1: T.BooleanType(), 2: T.LongType(), 3: T.DoubleType(), 4: T.StringType()
}


def _typed_props(df: DataFrame, json_col: str) -> Tuple[DataFrame, List[str]]:
    """Parse a JSON props column into typed columns.

    The key→type map is computed DISTRIBUTIVELY: an Arrow pandas UDF tags
    every (key, scalar-type) pair, then one explode + groupBy(key)
    collect_set aggregation (output is one row per distinct property key —
    metadata-sized) is collected and merged on the driver with the
    bool < long < double < string promotion lattice. Exact: a key first
    appearing in the last row of a 10^12-row frame still gets its column
    (the previous bounded limit().collect() sample silently dropped keys
    beyond the sample and was partition-order dependent). The input frame
    is the converter's PERSISTED dynamic long table, so the extra pass
    reads cache, not the wrapper pipeline. Sound because dynamic-path
    property dicts are flat scalars by construction (_props_json runs
    coerce_value first, P7)."""
    @F.pandas_udf("array<struct<k:string,t:int>>")
    def _key_types(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            if v is None:
                out.append([])
                continue
            pairs = []
            for k, val in json.loads(v).items():
                if isinstance(val, bool):
                    t = 1
                elif isinstance(val, int):
                    t = 2
                elif isinstance(val, float):
                    t = 3
                else:  # str / null (P7 coerces exotic values to str)
                    t = 4
                pairs.append({"k": k, "t": t})
            out.append(pairs)
        return pd.Series(out)

    key_rows = (
        df.select(F.explode(_key_types(F.col(json_col))).alias("_kt"))
        .groupBy(F.col("_kt.k").alias("k"))
        .agg(F.collect_set(F.col("_kt.t")).alias("ts"))
        .collect()
    )
    merged: dict = {}
    for r in key_rows:
        ts = set(r["ts"])
        if len(ts) == 1:
            code = ts.pop()
        elif ts <= {2, 3}:
            code = 3
        else:
            code = 4
        merged[r["k"]] = _CODE_TO_TYPE[code]
    if not merged:
        return df, []
    # alphabetical field order matches the previous spark.read.json behavior
    fields = [T.StructField(k, merged[k], True) for k in sorted(merged)]
    struct = T.StructType(fields)
    df = df.withColumn("_props", F.from_json(F.col(json_col), struct))
    for f in fields:
        df = df.withColumn(f.name, F.col(f"_props.{f.name}"))
    return df.drop("_props"), [f.name for f in fields]


def _node_uid(rule_id: str):
    return L.node_uid(
        F.col("plabel"), F.col("pkprop"), F.col("pkval"),
        [F.lit(rule_id + "#dyn"), F.col(L.SEQ_SRC), F.col(L.SEQ_ROW),
         F.col("local_idx")],
    )


def supplies(long_df: DataFrame, rule: NodeRule) -> DataFrame:
    """The supply of a dynamic rule: per source row (SEQ_SRC, SEQ_ROW), the
    first node its wrapper built — uid, primary label and key under the
    identifier's columns, for the converter to left-join back onto the row
    stream. A row whose subgraph holds no node has no supply (NULL after
    the join), so pass 2 emits no edge for it."""
    return long_df.filter((F.col("kind") == "n") & (F.col("local_idx") == 0)).select(
        F.col(L.SEQ_SRC),
        F.col(L.SEQ_ROW),
        _node_uid(rule.rule_id).alias(L._nid(rule.identifier)),
        F.col("plabel").alias(L._nlabel(rule.identifier)),
        F.col("pkval").alias(L._nkey(rule.identifier)),
    )


def dynamic_to_canonical(
    long_df: DataFrame, rule: NodeRule
) -> Tuple[DataFrame, Optional[DataFrame]]:
    """Long-format rows → (canonical nodes DF, canonical edges DF or None)."""
    nodes_long = long_df.filter(F.col("kind") == "n")
    rels_long = long_df.filter(F.col("kind") == "r")

    nodes_long, prop_names = _typed_props(nodes_long, "props_json")
    nodes = nodes_long.select(
        _node_uid(rule.rule_id).alias(L.UID),
        F.from_json(F.col("labels_json"), T.ArrayType(T.StringType())).alias(L.LABELS),
        F.col("plabel").alias(L.PLABEL),
        F.col("pkprop").alias(L.PKPROP),
        F.col("pkval").alias(L.PKVAL),
        F.col(L.SEQ_SRC),
        F.col(L.SEQ_ROW),
        *[F.col(p) for p in prop_names],
    )

    if rels_long.isEmpty():
        return nodes, None

    # resolve rel endpoints: join back to the node rows of the same source row
    ep = long_df.filter(F.col("kind") == "n").select(
        F.col(L.SEQ_SRC).alias("_e_src"),
        F.col(L.SEQ_ROW).alias("_e_row"),
        F.col("local_idx").alias("_e_local"),
        _node_uid(rule.rule_id).alias("_e_uid"),
        F.col("plabel").alias("_e_plabel"),
        F.col("pkval").alias("_e_pkval"),
    )
    rels_long, rprops = _typed_props(rels_long, "props_json")
    joined = (
        rels_long.join(
            ep,
            (F.col(L.SEQ_SRC) == F.col("_e_src"))
            & (F.col(L.SEQ_ROW) == F.col("_e_row"))
            & (F.col("src_local") == F.col("_e_local")),
        )
        .withColumnRenamed("_e_uid", "_src_u")
        .withColumnRenamed("_e_plabel", "_src_l")
        .withColumnRenamed("_e_pkval", "_src_k")
        .drop("_e_src", "_e_row", "_e_local")
        .join(
            ep,
            (F.col(L.SEQ_SRC) == F.col("_e_src"))
            & (F.col(L.SEQ_ROW) == F.col("_e_row"))
            & (F.col("dst_local") == F.col("_e_local")),
        )
        .withColumnRenamed("_e_uid", "_dst_u")
        .withColumnRenamed("_e_plabel", "_dst_l")
        .withColumnRenamed("_e_pkval", "_dst_k")
        .drop("_e_src", "_e_row", "_e_local")
    )

    pkprop_col = F.col("pkprop")
    # the merge key is the value of the DECLARED pk property (pkprop names
    # it per row) — select it by name, not coalesce-over-all-props
    pkval_str = F.lit(None).cast("string")
    for p in rprops:
        pkval_str = F.when(
            pkprop_col == F.lit(p),
            python_str_column(F.col(p), joined.schema[p].dataType),
        ).otherwise(pkval_str)
    eid = L.edge_id(
        F.col("_src_u"), F.col("rel_type"), F.col("_dst_u"), pkprop_col,
        pkval_str, F.col("ghost"),
        [F.lit(rule.rule_id + "#dynrel"), F.col(L.SEQ_SRC), F.col(L.SEQ_ROW),
         F.col("src_local"), F.col("dst_local"), F.col("rel_type")],
    )
    edges = joined.select(
        eid.alias(L.EID),
        F.col("_src_u").alias(L.SRC_UID),
        F.col("rel_type").alias(L.RELTYPE),
        F.col("_dst_u").alias(L.DST_UID),
        F.col("_src_l").alias(L.SRC_LABEL),
        F.col("_src_k").alias(L.SRC_KEY),
        F.col("_dst_l").alias(L.DST_LABEL),
        F.col("_dst_k").alias(L.DST_KEY),
        F.col("pkprop").alias(L.PKPROP),
        F.col(L.SEQ_SRC),
        F.col(L.SEQ_ROW),
        *[F.col(p) for p in rprops],
    )
    return nodes, edges


def apply_rel_postprocessors_dynamic(edges: DataFrame, rule: RelRule) -> DataFrame:
    """General subgraph postprocessors on a RELATIONSHIP rule: run per edge
    row over Arrow batches. The Relationship object carries stub endpoint
    nodes (label + pk only). Postprocessors may drop the relationship or
    mutate its properties; adding new nodes from a rel postprocessor is not
    supported (the reference's own docs discourage it)."""
    from ..core.graph_elements import Node, Relationship, Subgraph

    posts = []
    for w in rule.wrappers:
        wdef = registrar.get_wrapper(w.name)
        if wdef.kind == registrar.SG_POST and not wdef.sets_ghost_primary_key:
            posts.append((wdef.fn, tuple(w.static_args)))
    if not posts:
        return edges

    schema = edges.schema
    meta = set(L.EDGE_META)
    prop_cols = [f.name for f in schema.fields if f.name not in meta]
    col_names = [f.name for f in schema.fields]
    gstate = _snapshot_gstate()

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _install_gstate(gstate)
        for pdf in batches:
            keep = []
            for rec in pdf.to_dict("records"):
                src = Node(rec[L.SRC_LABEL] or "")
                dst = Node(rec[L.DST_LABEL] or "")
                rel = Relationship(src, rec[L.RELTYPE], dst,
                                   **{k: rec[k] for k in prop_cols})
                sg = Subgraph([], [rel])
                dropped = False
                for fn, sargs in posts:
                    sg = fn(sg, *sargs)
                    if not sg.relationships:
                        dropped = True
                        break
                if dropped:
                    continue
                out_rel = sg.relationships[0]
                new_rec = dict(rec)
                for k in prop_cols:
                    new_rec[k] = out_rel.properties.get(k, rec[k])
                keep.append(new_rec)
            yield pd.DataFrame(keep, columns=col_names)

    return edges.mapInPandas(_run, schema=schema)
