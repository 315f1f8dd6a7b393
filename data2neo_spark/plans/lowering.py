"""Rule descriptors → DataFrame expressions.

This is where the reference's per-row factory execution
(/root/reference/data2neo/core/factories/factory.py:154-242) becomes columnar:

* every NODE rule lowers to ONE ``select`` over its source DataFrame,
* identifier matchers lower to same-row column references (zero joins —
  strictly cheaper than the reference's supplies-dict lookup,
  matcher.py:64-69),
* MATCH matchers lower to equi hash joins against the merged node table
  (replacing the reference's per-row Cypher round-trip, matcher.py:94-96),
* built-in wrappers (INT/FLOAT/...) lower to native Column expressions,
  user wrappers to Arrow-batched pandas UDFs.

Canonical internal columns all start with ``_`` (user property keys that
shadow them are rejected at lowering time).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import registrar
from ..core.global_state import install as _install_gstate, snapshot as _snapshot_gstate
from ..core.graph_elements import Attribute, coerce_value
from ..core.types import python_str_column, spark_type_of_literal
from .rules import AttrSpec, MatchSpec, NodeRule, RelRule, WrapperApplication

# max wrapped-MATCH conditions lowered via exact 2^k−1 subset routing;
# above this the first-unsuppressed-condition routing (k branches) is used
SUPPRESSION_BRANCH_CAP = 6

# canonical node columns
UID = "_uid"
LABELS = "_labels"
PLABEL = "_primary_label"
PKPROP = "_pk_prop"
PKVAL = "_pk_val"
SEQ_SRC = "_seq_src"
SEQ_ROW = "_seq_row"

# canonical edge columns
EID = "_eid"
SRC_UID = "_src_uid"
RELTYPE = "_rel_type"
DST_UID = "_dst_uid"
SRC_LABEL = "_src_label"
SRC_KEY = "_src_key"
DST_LABEL = "_dst_label"
DST_KEY = "_dst_key"

NODE_META = [UID, LABELS, PLABEL, PKPROP, PKVAL, SEQ_SRC, SEQ_ROW]
EDGE_META = [EID, SRC_UID, RELTYPE, DST_UID, SRC_LABEL, SRC_KEY, DST_LABEL,
             DST_KEY, PKPROP, SEQ_SRC, SEQ_ROW]

# per-rule "a subgraph preprocessor kept this row" flag
SG_KEEP = "_sg_keep"


def _nid(identifier: str) -> str:
    return f"_nid__{identifier}"


def _nlabel(identifier: str) -> str:
    return f"_nlabel__{identifier}"


def _nkey(identifier: str) -> str:
    return f"_nkey__{identifier}"


def node_uid(
    plabel: Column, pk_prop: Column, pk_val: Column,
    create_key: Optional[List[Column]] = None,
) -> Column:
    """The one node-id formula: a node with a key value hashes (primary
    label, pk property, pk value), so every writer of that node — either
    converter path, ``GraphStore.merge`` — lands on the same uid. With no
    key value the id is NULL, or the hash of ``create_key`` (the caller's
    per-row namespace) for a CREATE-mode node."""
    keyed = F.when(pk_val.isNotNull(), F.xxhash64(plabel, pk_prop, pk_val))
    return keyed if create_key is None else keyed.otherwise(F.xxhash64(*create_key))


def edge_id(
    src: Column, rel_type: Column, dst: Column, pk_prop: Column,
    pk_val: Column, ghost: Column, create_key: List[Column],
) -> Column:
    """The one edge-id formula: merge edges get a content hash (idempotent
    across runs, the ``groupBy(_eid)`` dedup key) — over the pk when
    ``pk_prop`` is set, over (src, type, dst) for a ghost pk
    (MERGE_RELATIONSHIPS); CREATE edges hash ``create_key``, so parallel
    relationships survive (reference A5, converter.py:183-186)."""
    return (
        F.when(pk_prop.isNotNull(), F.xxhash64(src, rel_type, dst, pk_prop, pk_val))
        .when(ghost, F.xxhash64(src, rel_type, dst))
        .otherwise(F.xxhash64(*create_key))
    )


def dtype_of(df: DataFrame, col: Column) -> T.DataType:
    """Result dtype of an expression over df (analysis only, no job)."""
    return df.select(col.alias("_t")).schema[0].dataType


def _probe_value(dtype: T.DataType):
    if isinstance(dtype, T.BooleanType):
        return True
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return 1
    if isinstance(dtype, T.NumericType):
        return 1.0
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        import datetime
        return datetime.datetime(2020, 1, 1)
    if isinstance(dtype, T.DateType):
        import datetime
        return datetime.date(2020, 1, 1)
    return "1"


def _infer_post_chain_type(
    fns: List[Tuple], key: str, input_dtype: T.DataType
) -> T.DataType:
    """Infer the output Spark type of a python postprocessor chain by probing
    with a type-representative value; falls back to string."""
    try:
        attr = Attribute(key or "k", _probe_value(input_dtype))
        for fn, static_args in fns:
            attr = fn(attr, *static_args)
            if attr is None:
                return T.StringType()
        return spark_type_of_literal(attr.value)
    except Exception:
        return T.StringType()


class LoweringError(ValueError):
    pass


def attr_column(
    spec: AttrSpec,
    df: DataFrame,
    entity_type: str,
) -> Column:
    """Lower an AttrSpec (with wrapper chain) to a Column over df."""
    col, _sup = _attr_column_pair(spec, df, entity_type, want_flag=False)
    return col


def attr_column_flagged(
    spec: AttrSpec,
    df: DataFrame,
    entity_type: str,
) -> Tuple[Column, Column]:
    """Lower an AttrSpec to (value, suppressed) Columns.

    ``suppressed`` is True exactly when a python wrapper in the chain
    returned None for the row (reference AttributeFactory.construct →
    None, matcher.py:72 drops such conditions), NOT when the attribute's
    VALUE is null — the reference keeps a None-valued condition in
    parsed_conditions, so the row matches nothing. The two cases are
    columnar-indistinguishable from the value alone; MATCH lowering uses
    this flag to route only genuinely-suppressed conditions to the
    removal branches. Matching construct(), wrappers DO run on null
    values here (the plain attr_column path short-circuits nulls)."""
    return _attr_column_pair(spec, df, entity_type, want_flag=True)


def _attr_column_pair(
    spec: AttrSpec,
    df: DataFrame,
    entity_type: str,
    want_flag: bool,
) -> Tuple[Column, Optional[Column]]:
    schema_fields = {f.name: f.dataType for f in df.schema.fields}

    # split wrappers: outermost-first in spec.wrappers.
    # execution order: pre outer→inner, value, post inner→outer.
    pre_fns: List[Tuple] = []     # in execution order
    post_chain: List[Tuple[str, WrapperApplication]] = []  # inner→outer
    for w in spec.wrappers:  # outermost-first
        wdef = registrar.get_wrapper(w.name)
        if wdef.kind == registrar.ATTR_PRE:
            pre_fns.append((wdef.fn, w.static_args))
        elif wdef.kind in (registrar.ATTR_POST, registrar.ATTR_POST_VEC):
            post_chain.insert(0, (wdef, w))
        else:
            raise LoweringError(
                f"Wrapper '{w.name}' of kind {wdef.kind} cannot wrap an attribute"
            )

    # base value column
    if spec.is_static:
        base = F.lit(spec.static)
        base_dtype = spark_type_of_literal(spec.static)
    elif spec.column is not None:
        if spec.column not in schema_fields and not pre_fns:
            raise LoweringError(
                f"AttributeFactory: Error while extracting the attribute "
                f"{spec.column} from an entity with type {entity_type}"
            )
        if not pre_fns:
            base = F.col(spec.column)
            base_dtype = schema_fields[spec.column]
        else:
            base = None
            base_dtype = schema_fields.get(spec.column, T.StringType())
    else:
        base = F.lit(None)
        base_dtype = T.NullType()

    sup_col: Optional[Column] = None
    if pre_fns:
        # preprocessors need the whole row: Arrow-batched python over a
        # struct of all source columns (reference factory_wrappers.py:105-142)
        col_names = list(schema_fields.keys())
        column = spec.column
        static = spec.static

        out_dtype = base_dtype
        gstate = _snapshot_gstate()

        if want_flag:
            _pre_struct = T.StructType([
                T.StructField("v", out_dtype), T.StructField("sup", T.BooleanType())
            ])

            @F.pandas_udf(_pre_struct)
            def _pre_udf_f(batch: pd.DataFrame) -> pd.DataFrame:
                _install_gstate(gstate)
                vals, sups = [], []
                for row in batch.itertuples(index=False):
                    resource = dict(zip(col_names, row))
                    dropped = False
                    for fn, sargs in pre_fns:
                        resource = fn(resource, *sargs)
                        if resource is None:
                            dropped = True
                            break
                    if dropped:
                        vals.append(None)
                    elif static is not None:
                        vals.append(static)
                    else:
                        vals.append(resource.get(column))
                    sups.append(dropped)
                return pd.DataFrame({"v": vals, "sup": sups})

            _s = _pre_udf_f(F.struct(*[F.col(c) for c in col_names]))
            base = _s.getField("v")
            sup_col = _s.getField("sup")
        else:
            @F.pandas_udf(out_dtype.simpleString())
            def _pre_udf(batch: pd.DataFrame) -> pd.Series:
                _install_gstate(gstate)
                out = []
                for row in batch.itertuples(index=False):
                    resource = dict(zip(col_names, row))
                    dropped = False
                    for fn, sargs in pre_fns:
                        resource = fn(resource, *sargs)
                        if resource is None:
                            dropped = True
                            break
                    if dropped:
                        out.append(None)
                    elif static is not None:
                        out.append(static)
                    else:
                        out.append(resource.get(column))
                return pd.Series(out)

            base = _pre_udf(F.struct(*[F.col(c) for c in col_names]))
        base_dtype = out_dtype

    col = base
    dtype = base_dtype
    # postprocessors inner→outer
    i = 0
    while i < len(post_chain):
        wdef, w = post_chain[i]
        if wdef.column_compiler is not None:
            col = wdef.column_compiler(col, dtype, *w.static_args)
            dtype = dtype_of(df, col)
            i += 1
        elif wdef.kind == registrar.ATTR_POST_VEC:
            fn, sargs = wdef.fn, tuple(w.static_args)
            try:
                probe = fn(pd.Series([_probe_value(dtype)]), *sargs)
                out_dtype = (
                    spark_type_of_literal(probe.iloc[0]) if len(probe) else dtype
                )
            except Exception:
                # value-sensitive fn: assume type-preserving rather than
                # aborting the whole conversion at compile time
                out_dtype = dtype

            def _make_vec(fn=fn, sargs=sargs):
                @F.pandas_udf(out_dtype.simpleString())
                def _vec_udf(s: pd.Series) -> pd.Series:
                    return fn(s, *sargs)
                return _vec_udf

            col = _make_vec()(col)
            dtype = out_dtype
            i += 1
        else:
            # consume a run of consecutive python postprocessors in ONE
            # Arrow-batched UDF (avoids a python↔JVM hop per wrapper)
            run: List[Tuple] = []
            while i < len(post_chain):
                wdef_i, w_i = post_chain[i]
                if (wdef_i.column_compiler is None
                        and wdef_i.kind == registrar.ATTR_POST):
                    run.append((wdef_i.fn, tuple(w_i.static_args)))
                    i += 1
                else:
                    break
            key = spec.key
            out_dtype = _infer_post_chain_type(run, key, dtype)

            if want_flag:
                _post_struct = T.StructType([
                    T.StructField("v", out_dtype),
                    T.StructField("sup", T.BooleanType()),
                ])

                def _make_post_f(run=tuple(run), key=key,
                                 gstate=_snapshot_gstate()):
                    @F.pandas_udf(_post_struct)
                    def _post_udf_f(s: pd.Series, sup_in: pd.Series) -> pd.DataFrame:
                        _install_gstate(gstate)
                        vals, sups = [], []
                        for v, si in zip(s, sup_in):
                            if si:
                                vals.append(None)
                                sups.append(True)
                                continue
                            if isinstance(v, float) and pd.isna(v):
                                v = None
                            # construct() runs the chain on None values too
                            attr = Attribute(key or "k", v)
                            for fn, sargs in run:
                                attr = fn(attr, *sargs)
                                if attr is None:
                                    break
                            vals.append(
                                coerce_value(attr.value) if attr is not None else None
                            )
                            sups.append(attr is None)
                        return pd.DataFrame({"v": vals, "sup": sups})
                    return _post_udf_f

                _s = _make_post_f()(
                    col, sup_col if sup_col is not None else F.lit(False)
                )
                col = _s.getField("v")
                sup_col = _s.getField("sup")
            else:
                def _make_post(run=tuple(run), key=key, gstate=_snapshot_gstate()):
                    @F.pandas_udf(out_dtype.simpleString())
                    def _post_udf(s: pd.Series) -> pd.Series:
                        _install_gstate(gstate)
                        out = []
                        for v in s:
                            if v is None or (isinstance(v, float) and pd.isna(v)):
                                out.append(None)
                                continue
                            attr = Attribute(key or "k", v)
                            for fn, sargs in run:
                                attr = fn(attr, *sargs)
                                if attr is None:
                                    break
                            out.append(coerce_value(attr.value) if attr is not None else None)
                        return pd.Series(out, dtype=object)
                    return _post_udf

                col = _make_post()(col)
            dtype = out_dtype

    if not want_flag:
        return col, None
    if sup_col is None:
        sup_col = F.lit(False)
    else:
        # a later native/vectorized step may map null→non-null (e.g. a
        # default-value compiler): a suppressed row's value must stay null
        col = F.when(sup_col, F.lit(None).cast(dtype)).otherwise(col)
        sup_col = F.coalesce(sup_col, F.lit(False))
    return col, sup_col


def _label_columns(rule_labels: List[AttrSpec], df: DataFrame, entity_type: str) -> List[Column]:
    cols = []
    for spec in rule_labels:
        c = attr_column(spec, df, entity_type)
        dt = dtype_of(df, c)
        cols.append(python_str_column(c, dt))
    return cols


def apply_subgraph_preprocessors(
    df: DataFrame, wrappers: List[WrapperApplication]
) -> DataFrame:
    """Run a rule's subgraph preprocessors (conditional row filters / row
    rewrites, reference factory_wrappers.py:99-101) over its input: rows a
    preprocessor drops (returns None) leave, mutations of existing columns
    stay; new keys do not (columnar schemas are fixed per rule — documented
    divergence)."""
    if not _sg_pre_fns(wrappers):
        return df
    return (propagate_sg_pre_mutations(df, wrappers, SG_KEEP)
            .where(F.col(SG_KEEP)).drop(SG_KEEP))


def _sg_pre_fns(wrappers: List[WrapperApplication]) -> List[Tuple]:
    return [(registrar.get_wrapper(w.name).fn, tuple(w.static_args))
            for w in wrappers
            if registrar.get_wrapper(w.name).kind == registrar.SG_PRE]


def propagate_sg_pre_mutations(
    df: DataFrame,
    wrappers: List[WrapperApplication],
    keep_col: Optional[str] = None,
) -> DataFrame:
    """Apply a rule's subgraph-preprocessor *mutations* to the stream WITHOUT
    filtering, so later rules and the relationship pass observe them.

    The reference shares one Resource object per row across all factories and
    both passes (converter.py:204-207 returns the pickled processed resources
    for pass 2), so in-place mutations persist — proven by
    test_wrappers.py::test_subgraph_pre where the relationship sees
    First='Changed' set by a NODE rule's preprocessor. A preprocessor
    returning None skips only its own rule, earlier mutations in the chain
    stay.

    ``keep_col``: when given, a boolean column of that name is appended —
    False for rows a preprocessor dropped (returned None) for THIS rule.
    The converter uses it to null the rule's identifier (supplies) columns so
    pass 2 never emits edges to nodes that were never created."""
    pres = _sg_pre_fns(wrappers)
    if not pres:
        if keep_col is not None:
            return df.withColumn(keep_col, F.lit(True))
        return df

    col_names = [f.name for f in df.schema.fields]
    schema = df.schema
    if keep_col is not None:
        schema = T.StructType(
            list(df.schema.fields) + [T.StructField(keep_col, T.BooleanType())]
        )
    out_cols = col_names + ([keep_col] if keep_col is not None else [])
    gstate = _snapshot_gstate()

    def _apply(batches):
        _install_gstate(gstate)
        for pdf in batches:
            rows = []
            for row in pdf.to_dict("records"):
                resource = dict(row)
                kept = True
                for fn, sargs in pres:
                    nxt = fn(resource, *sargs)
                    if nxt is None:
                        kept = False
                        break
                    resource = nxt
                rec = {c: resource.get(c) for c in col_names}
                if keep_col is not None:
                    rec[keep_col] = kept
                rows.append(rec)
            yield pd.DataFrame(rows, columns=out_cols)

    return df.mapInPandas(_apply, schema=schema)


def lower_node_rule(
    df: DataFrame, rule: NodeRule, observations: Optional[list] = None
) -> DataFrame:
    """NODE rule → canonical node-rows DataFrame (one select over df).

    Columns: NODE_META + one typed column per schema property.
    df must already carry SEQ_SRC / SEQ_ROW.

    ``observations``: optional list; for merge-mode rules an
    ``(rule_id, Observation)`` pair counting dropped null-pk rows is
    appended. The metric rides whatever action first executes the plan —
    no extra job.
    """
    base = apply_subgraph_preprocessors(df, rule.wrappers)

    label_cols = _label_columns(rule.labels, base, rule.entity_type)
    if not label_cols:
        raise LoweringError(f"NODE rule in entity '{rule.entity_type}' has no labels")
    labels_arr = F.filter(F.array(*label_cols), lambda x: x.isNotNull())
    plabel = label_cols[0]

    prop_cols: Dict[str, Column] = {}
    for spec in rule.attributes:
        if spec.key in NODE_META or spec.key in EDGE_META:
            raise LoweringError(f"Property key '{spec.key}' is reserved")
        prop_cols[spec.key] = attr_column(spec, base, rule.entity_type)

    pk = rule.primary_key
    if pk is not None and pk not in prop_cols:
        raise LoweringError(
            f"The primary key '{pk}' must refer to an existing property "
            f"(NODE rule in entity '{rule.entity_type}')"
        )

    uid, pkval = _rule_uid(rule, base, plabel, prop_cols.get(pk))
    out = base.select(
        uid.alias(UID),
        labels_arr.alias(LABELS),
        plabel.alias(PLABEL),
        F.lit(pk).cast("string").alias(PKPROP),
        pkval.alias(PKVAL),
        F.col(SEQ_SRC),
        F.col(SEQ_ROW),
        *[c.alias(k) for k, c in prop_cols.items()],
    )
    if pk is not None:
        # a null pk value cannot be merged on; reference raises per row
        # (graph_elements.py:251-252) — we drop, and when the caller passed
        # an observations list the drop count is surfaced via store.log_stage
        if observations is not None:
            from pyspark.sql import Observation

            obs = Observation()
            out = out.observe(
                obs,
                F.count(F.when(F.col(PKVAL).isNull(), F.lit(1))).alias("null_pk_rows"),
            )
            observations.append((rule.rule_id, obs))
        out = out.filter(F.col(PKVAL).isNotNull())
    return out


def _rule_uid(
    rule: NodeRule, df: DataFrame, plabel: Column, pk_col: Optional[Column]
) -> Tuple[Column, Column]:
    """(uid, pk value string) of the node a columnar NODE rule builds from
    a row of df; a keyless rule's CREATE id is namespaced by its rule id."""
    if rule.primary_key is None:
        pkval = F.lit(None).cast("string")
        create_key = [F.lit(rule.rule_id), F.col(SEQ_SRC), F.col(SEQ_ROW)]
    else:
        pkval = python_str_column(pk_col, dtype_of(df, pk_col))
        create_key = None
    return node_uid(plabel, F.lit(rule.primary_key), pkval, create_key), pkval


def attach_identifier_columns(
    df: DataFrame, rule: NodeRule, keep_col: Optional[str] = None
) -> DataFrame:
    """Attach the same-row node reference columns for rule.identifier.

    This is the supplies mechanism (reference resource.py:23-27,
    factory.py:292-294) re-expressed as plain columns: the node a row
    produced is addressable by (uid, primary_label, pk_value) computed from
    the row itself — no join, no shuffle.

    The uid is NULL — i.e. the supply is absent, and identifier matchers in
    pass 2 emit no edge (reference raises KeyError per row,
    resource.py:23-27) — when the node was never created for this row:
    either the rule's subgraph preprocessor dropped the row (``keep_col`` is
    False) or a merge-mode rule saw a null primary-key value (those rows are
    filtered out of the node table, lower_node_rule). ``keep_col`` is
    consumed: the result no longer carries it.

    Dynamic (full-wrapper) rules take their supplies from the nodes the
    wrapper built instead (``dynamic.supplies``).
    """
    if rule.identifier is None:
        return df
    plabel = _label_columns(rule.labels, df, rule.entity_type)[0]
    pk_col = next((attr_column(s, df, rule.entity_type) for s in rule.attributes
                   if s.key == rule.primary_key), None)
    uid, pkval = _rule_uid(rule, df, plabel, pk_col)
    if keep_col is not None:
        uid = F.when(F.col(keep_col), uid)
    out = df.select("*", uid.alias(_nid(rule.identifier)),
                    plabel.alias(_nlabel(rule.identifier)),
                    pkval.alias(_nkey(rule.identifier)))
    return out if keep_col is None else out.drop(keep_col)


def lower_match(
    rows: DataFrame,
    match: MatchSpec,
    nodes: DataFrame,
    entity_type: str,
    side: str,
) -> DataFrame:
    """MATCH(...) → equi join of rows against the node table.

    Returns rows extended with ``<side>_uid / <side>_label / <side>_key``
    columns (side ∈ {_from, _to}). Static labels and static conditions are
    pushed into the node-side filter (predicate pushdown into the node scan);
    row-derived conditions become join keys. The join is a plain inner
    join: Spark picks its strategy from the node side's measured size, and
    AQE's skew join splits hub keys when it shuffles.
    """
    uid_out, label_out, key_out = f"{side}_uid", f"{side}_label", f"{side}_key"

    if match.is_identifier:
        nid = _nid(match.node_id)
        if nid not in rows.columns:
            raise KeyError(
                f"Matcher: The provided resource does not contain the supply "
                f"{match.node_id}"
            )
        return (
            # a null supply uid means the node was never created for this
            # row (subgraph-pre drop or null merge pk) — no edge, matching
            # the reference's missing-supply behavior
            rows.filter(F.col(nid).isNotNull())
            .withColumn(uid_out, F.col(nid))
            .withColumn(label_out, F.col(_nlabel(match.node_id)))
            .withColumn(key_out, F.col(_nkey(match.node_id)))
        )

    # --- condition path: join against node table -------------------------
    cand = nodes
    post_label_exprs: List[Tuple[Column, bool]] = []
    for spec in match.labels:
        if spec.is_static and not spec.wrappers:
            cand = cand.filter(F.array_contains(F.col(LABELS), str(spec.static)))
        else:
            # dynamic label: evaluated on the row side after the join;
            # a wrapper-suppressed label (NULL) is SKIPPED — matching
            # proceeds on the remaining labels/conditions (reference
            # matcher.py:77-78: parsed_labels keeps non-None attrs only)
            post_label_exprs.append(
                (attr_column(spec, rows, entity_type), bool(spec.wrappers))
            )

    # project candidate nodes: uid/meta + condition properties, renamed to
    # avoid collisions with row columns
    cond_keys = []
    for spec in match.conditions:
        if spec.key not in [f.name for f in nodes.schema.fields]:
            # condition on a property no node has → no match possible
            cond_keys.append((spec, None))
        else:
            cond_keys.append((spec, spec.key))

    sel = [
        F.col(UID).alias(uid_out),
        F.col(PLABEL).alias(label_out),
        F.col(PKVAL).alias(key_out),
    ]
    if post_label_exprs:
        sel.append(F.col(LABELS).alias(f"{side}_all_labels"))
    for i, (spec, k) in enumerate(cond_keys):
        if k is not None:
            sel.append(F.col(k).alias(f"{side}_cond_{i}"))
    cand = cand.select(*sel)

    # bind each condition's row value to a REAL column (type-harmonized
    # against the node column), so the suppression-mask branches below can
    # reference one evaluation instead of recomputing wrapper UDF chains.
    # Wrapped conditions also bind an explicit suppression FLAG: a wrapper
    # returning None (suppression, condition removed per matcher.py:72) is
    # distinct from a genuinely-NULL condition value (condition kept — the
    # reference keeps None-valued attrs in parsed_conditions and the row
    # then matches nothing).
    suppressible = len(cond_keys) > 1 and any(
        spec.wrappers for spec, _k in cond_keys
    )
    rows_b = rows
    for i, (spec, k) in enumerate(cond_keys):
        if suppressible and spec.wrappers:
            row_val, sup = attr_column_flagged(spec, rows, entity_type)
        else:
            row_val, sup = attr_column(spec, rows, entity_type), F.lit(False)
        if k is not None:
            node_col = F.col(f"{side}_cond_{i}")
            node_dt = dtype_of(cand, node_col)
            row_dt = dtype_of(rows, row_val)
            if isinstance(node_dt, T.StringType) and not isinstance(row_dt, T.StringType):
                row_val = python_str_column(row_val, row_dt)
            elif isinstance(row_dt, T.StringType) and not isinstance(node_dt, T.StringType):
                cand = cand.withColumn(
                    f"{side}_cond_{i}", python_str_column(node_col, node_dt)
                )
        rows_b = rows_b.withColumn(f"{side}_rv_{i}", row_val)
        if suppressible:
            rows_b = rows_b.withColumn(f"{side}_sup_{i}", sup)

    def _join(rside: DataFrame, jcond) -> DataFrame:
        return rside.join(cand, on=jcond, how="inner")

    def _eq(i: int):
        return F.col(f"{side}_cond_{i}") == F.col(f"{side}_rv_{i}")

    # Partial wrapper suppression (reference matcher.py:71-76): a condition
    # whose attribute a wrapper suppressed (explicit flag from
    # attr_column_flagged) is REMOVED from that row's condition set; only
    # when EVERY condition is suppressed does the row match nothing. With
    # >1 condition and wrappers in play, rows are routed by their
    # suppression-mask to one equi join per observed condition subset
    # (2^k−1 branches, k small by construction) — each branch stays a
    # hashable equi join, so Spark's join selection still applies. A
    # condition whose value is genuinely NULL (not suppressed) is KEPT:
    # its equi-join predicate is null → the row matches nothing, exactly
    # the reference's None-valued parsed_conditions behavior.
    if not suppressible:
        join_cond = None
        for i, (spec, k) in enumerate(cond_keys):
            expr = F.lit(False) if k is None else _eq(i)
            join_cond = expr if join_cond is None else (join_cond & expr)
        if join_cond is None:
            join_cond = F.lit(True)
        joined = _join(rows_b, join_cond)
    else:
        from itertools import combinations

        idxs = list(range(len(cond_keys)))
        parts: List[DataFrame] = []
        if len(idxs) <= SUPPRESSION_BRANCH_CAP:
            # exact subset routing: one fully-equi join per observed
            # condition subset (2^k−1 branches) — every present condition
            # participates in the join key, maximal selectivity
            for r in range(1, len(idxs) + 1):
                for subset in combinations(idxs, r):
                    if any(cond_keys[i][1] is None for i in subset):
                        # unsuppressed condition on a property no node has —
                        # those rows match nothing (skip the branch)
                        continue
                    mask = None
                    for i in idxs:
                        p = (
                            ~F.col(f"{side}_sup_{i}")
                            if i in subset
                            else F.col(f"{side}_sup_{i}")
                        )
                        mask = p if mask is None else (mask & p)
                    jcond = None
                    for i in subset:
                        jcond = _eq(i) if jcond is None else (jcond & _eq(i))
                    parts.append(_join(rows_b.filter(mask), jcond))
        else:
            # branch-cap fallback (k conditions > cap ⇒ 2^k−1 would explode
            # the plan): route each row by its FIRST unsuppressed condition
            # — k branches, each STILL a hashable equi join on that one
            # condition, with the remaining conditions enforced by a
            # post-join filter (sup_j OR eq_j). Exact same semantics as
            # subset routing; all-suppressed rows fall in no branch.
            for i in idxs:
                mask = ~F.col(f"{side}_sup_{i}")
                for j in range(i):
                    mask = F.col(f"{side}_sup_{j}") & mask
                if cond_keys[i][1] is None:
                    # first live condition targets a property no node has —
                    # those rows match nothing
                    continue
                post = None
                for j in idxs:
                    if j == i:
                        continue
                    pj = (
                        F.col(f"{side}_sup_{j}")
                        if cond_keys[j][1] is None
                        else (F.col(f"{side}_sup_{j}") | _eq(j))
                    )
                    post = pj if post is None else (post & pj)
                b = _join(rows_b.filter(mask), _eq(i))
                if post is not None:
                    b = b.filter(post)
                parts.append(b)
        if parts:
            joined = parts[0]
            for p in parts[1:]:
                joined = joined.unionByName(p)
        else:  # every condition targets a nonexistent property
            joined = _join(rows_b.filter(F.lit(False)), F.lit(False))

    for expr, lbl_suppressible in post_label_exprs:
        cond = F.array_contains(F.col(f"{side}_all_labels"), expr)
        if lbl_suppressible:
            cond = expr.isNull() | cond
        joined = joined.filter(cond)
    if post_label_exprs:
        joined = joined.drop(f"{side}_all_labels")
    drop_cols = [f"{side}_cond_{i}" for i in range(len(cond_keys))]
    drop_cols += [f"{side}_rv_{i}" for i in range(len(cond_keys))]
    if suppressible:
        drop_cols += [f"{side}_sup_{i}" for i in range(len(cond_keys))]
    return joined.drop(*drop_cols)


def lower_rel_rule(
    df: DataFrame,
    rule: RelRule,
    nodes: DataFrame,
) -> DataFrame:
    """RELATIONSHIP rule → canonical edge-rows DataFrame.

    The from/to matchers both join (or same-row-reference) on the source
    rows; a row matched to m from-nodes and n to-nodes yields m×n edges —
    the reference's cartesian product (factory.py:237-242) arises naturally
    from the two joins.
    """
    base = apply_subgraph_preprocessors(df, rule.wrappers)

    rows = lower_match(base, rule.from_match, nodes, rule.entity_type, "_from")
    rows = lower_match(rows, rule.to_match, nodes, rule.entity_type, "_to")

    type_col = attr_column(rule.type_attr, rows, rule.entity_type)
    type_col = python_str_column(type_col, dtype_of(rows, type_col))

    prop_cols: Dict[str, Column] = {}
    for spec in rule.attributes:
        if spec.key in NODE_META or spec.key in EDGE_META:
            raise LoweringError(f"Property key '{spec.key}' is reserved")
        prop_cols[spec.key] = attr_column(spec, rows, rule.entity_type)

    pk = rule.primary_key
    if pk is not None and pk not in prop_cols:
        raise LoweringError(
            f"The primary key '{pk}' must refer to an existing property "
            f"(RELATIONSHIP rule in entity '{rule.entity_type}')"
        )

    pk_col = prop_cols.get(pk)
    eid = edge_id(
        F.col("_from_uid"), type_col, F.col("_to_uid"), F.lit(pk),
        F.lit(None) if pk is None else python_str_column(pk_col, dtype_of(rows, pk_col)),
        F.lit(rule.ghost_primary_key),
        [F.lit(rule.rule_id), F.col(SEQ_SRC), F.col(SEQ_ROW),
         F.col("_from_uid"), F.col("_to_uid"), type_col],
    )

    return rows.select(
        eid.alias(EID),
        F.col("_from_uid").alias(SRC_UID),
        type_col.alias(RELTYPE),
        F.col("_to_uid").alias(DST_UID),
        F.col("_from_label").alias(SRC_LABEL),
        F.col("_from_key").alias(SRC_KEY),
        F.col("_to_label").alias(DST_LABEL),
        F.col("_to_key").alias(DST_KEY),
        F.lit(pk).cast("string").alias(PKPROP),
        F.col(SEQ_SRC),
        F.col(SEQ_ROW),
        *[c.alias(k) for k, c in prop_cols.items()],
    )


def merge_elements(
    union_df: DataFrame,
    meta_cols: List[str],
    key_col: str,
) -> DataFrame:
    """Deterministic last-writer-wins keyed aggregation — the engine's
    replacement for Neo4j MERGE + SET (reference graph_elements.py:206-283,
    cypher.py:113-175). One shuffle; map-side partial aggregation is free.

    Ordering key = (SEQ_SRC, SEQ_ROW): later sources/rows overwrite earlier
    values property-by-property (nulls never overwrite — a null property is
    'absent', matching upsert semantics proven by the reference's
    test_node_update). Strictly stronger than the reference, whose
    imap_unordered commit order is racy (converter.py:338).
    """
    seq = F.struct(F.col(SEQ_SRC), F.col(SEQ_ROW))
    prop_names = [f.name for f in union_df.schema.fields if f.name not in meta_cols]

    aggs: List[Column] = []
    if LABELS in meta_cols and LABELS in union_df.columns:
        aggs.append(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(F.col(LABELS)))))
            .alias("_all_labels")
        )
    for c in meta_cols:
        if c in (key_col, LABELS, SEQ_SRC, SEQ_ROW) or c not in union_df.columns:
            continue
        aggs.append(F.min_by(F.col(c), seq).alias(c))
    aggs.append(F.max(seq).alias("_maxseq"))
    for p in prop_names:
        aggs.append(
            F.max_by(F.col(p), F.when(F.col(p).isNotNull(), seq)).alias(p)
        )

    out = union_df.groupBy(F.col(key_col)).agg(*aggs)
    if LABELS in meta_cols and LABELS in union_df.columns:
        # primary label first, remaining labels sorted (deterministic)
        out = out.withColumn(
            LABELS,
            F.concat(
                F.array(F.col(PLABEL)),
                F.array_remove(F.col("_all_labels"), F.col(PLABEL)),
            ),
        ).drop("_all_labels")
    out = (
        out.withColumn(SEQ_SRC, F.col("_maxseq").getField(SEQ_SRC))
        .withColumn(SEQ_ROW, F.col("_maxseq").getField(SEQ_ROW))
        .drop("_maxseq")
    )
    return out
