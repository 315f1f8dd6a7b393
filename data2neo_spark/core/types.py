"""Type widening + schema-aligned unions.

The reference keeps per-node *open* property dicts (graph_elements.py:442-555);
our node/edge tables are typed columns per property. When two rules emit the
same property with different types (or an update run adds new properties), we
widen: integral∪integral→long, numeric∪numeric→double, date∪timestamp→
timestamp, anything else→string (matching the reference's str(value) fallback
coercion, graph_elements.py:84-86).
"""

from __future__ import annotations

import datetime
import time
from typing import Dict, List, Optional

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGRALS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
# plan statistics sentinel for "unknown" (Long.MaxValue-ish)
_STATS_UNKNOWN = 1 << 60


def estimated_bytes(df: DataFrame) -> Optional[int]:
    """Optimizer size estimate in bytes, or None when unavailable."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps small BigInts to python ints; huge ones stay JVM
        # objects with toString()
        est = size if isinstance(size, int) else int(size.toString())
    except Exception:
        return None
    return est if 0 <= est < _STATS_UNKNOWN else None


def inline_values(df: DataFrame, col: str, max_rows: int) -> Optional[list]:
    """``col``'s values when ``df`` has at most ``max_rows`` rows, else
    None. The one inline-or-join decision of the operators: a bounded
    collect of at most ``max_rows + 1`` rows counts rows exactly, where a
    byte estimate would have to guess a row width."""
    rows = df.select(col).limit(max_rows + 1).collect()
    return None if len(rows) > max_rows else [r[0] for r in rows]


def observed_value(obs, key: str, retries: int = 20):
    """Non-blocking Observation read: the blocking ``obs.get`` deadlocks
    inside ``foreachBatch`` micro-batches for CollectMetrics nodes below
    an aggregation (the listener never fires there) — poll the JVM-side
    ``getRowOrEmpty`` with a short bounded retry instead and treat a
    missing metric as unknown (None)."""
    for _ in range(retries):
        try:
            opt = obs._jo.getRowOrEmpty()
            if opt.isDefined():
                row = opt.get()
                idx = row.fieldIndex(key)
                return None if row.isNullAt(idx) else row.get(idx)
        except Exception:
            return None
        time.sleep(0.05)
    return None


def python_str_column(col: Column, dtype: T.DataType) -> Column:
    """Cast to string with python semantics (str(True) == 'True')."""
    if isinstance(dtype, T.BooleanType):
        return F.when(col, F.lit("True")).when(~col, F.lit("False"))
    return col.cast("string")


def widen(a: T.DataType, b: T.DataType) -> T.DataType:
    if a.simpleString() == b.simpleString():
        return a
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(widen(a.elementType, b.elementType), True)
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if isinstance(a, _INTEGRALS) and isinstance(b, _INTEGRALS):
        return T.LongType()
    if isinstance(a, T.NumericType) and isinstance(b, T.NumericType):
        return T.DoubleType()
    ts_types = (T.TimestampType, T.TimestampNTZType)
    if isinstance(a, (T.DateType, *ts_types)) and isinstance(b, (T.DateType, *ts_types)):
        return T.TimestampType()
    return T.StringType()


def cast_col(col: Column, from_dtype: T.DataType, to_dtype: T.DataType) -> Column:
    if from_dtype.simpleString() == to_dtype.simpleString():
        return col
    if isinstance(to_dtype, T.StringType):
        return python_str_column(col, from_dtype)
    # try_cast: widening unions must never fail a task under ANSI mode
    return col.try_cast(to_dtype)


def union_wide(dfs: List[DataFrame]) -> Optional[DataFrame]:
    """Union DataFrames by name with missing-column nulls and type widening.

    Column order: first-seen across inputs. Equivalent to
    ``unionByName(allowMissingColumns=True)`` plus automatic type widening.
    """
    dfs = [df for df in dfs if df is not None]
    if not dfs:
        return None
    if len(dfs) == 1:
        return dfs[0]

    order: List[str] = []
    types: Dict[str, T.DataType] = {}
    for df in dfs:
        for f in df.schema.fields:
            if f.name not in types:
                order.append(f.name)
                types[f.name] = f.dataType
            else:
                types[f.name] = widen(types[f.name], f.dataType)

    aligned = []
    for df in dfs:
        have = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for name in order:
            if name in have:
                cols.append(cast_col(F.col(name), have[name], types[name]).alias(name))
            else:
                cols.append(F.lit(None).cast(types[name]).alias(name))
        aligned.append(df.select(*cols))

    out = aligned[0]
    for df in aligned[1:]:
        out = out.union(df)
    return out


def spark_type_of_literal(value) -> T.DataType:
    if isinstance(value, (np.number, np.bool_)):
        # numpy scalars (pandas probe values) map like their python twins
        value = value.item()
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, datetime.datetime):
        return T.TimestampType()
    if isinstance(value, datetime.date):
        return T.DateType()
    return T.StringType()
