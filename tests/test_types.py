"""Type-conversion wrapper tests — both python-fn parity (reference
tests/unit/common_modules/test_type_conversions.py, test_util.py) and the
vectorized Column compilers through a real conversion."""

import datetime

import pandas as pd
import pytest

from data2neo_spark import Attribute, Converter
from data2neo_spark.functions import INT, FLOAT, STR, BOOL, DATE, DATETIME, strptime_to_spark


# ---- python parity (the Arrow fallback path) -------------------------------

def test_int():
    assert INT(Attribute("k", "40")).value == 40
    assert INT(Attribute("k", 5.3)).value == 5
    assert INT(Attribute("k", 5)).value == 5


def test_float():
    assert FLOAT(Attribute("k", "40")).value == 40.0
    assert FLOAT(Attribute("k", 5.3)).value == 5.3
    assert FLOAT(Attribute("k", 5)).value == 5.0


def test_bool_truthiness():
    assert BOOL(Attribute("k", "True")).value is True
    # bug-compat: non-empty string is truthy
    assert BOOL(Attribute("k", "False")).value is True
    assert BOOL(Attribute("k", True)).value is True
    assert BOOL(Attribute("k", False)).value is False
    assert BOOL(Attribute("k", None)).value is False
    assert BOOL(Attribute("k", 0)).value is False
    assert BOOL(Attribute("k", 1)).value is True


def test_str():
    assert STR(Attribute("k", "40")).value == "40"
    assert STR(Attribute("k", 5.3)).value == "5.3"
    assert STR(Attribute("k", 5)).value == "5"


def test_date_datetime():
    d = DATE(Attribute("k", "2015-05-17T21:18:19")).value
    assert (d.year, d.month, d.day) == (2015, 5, 17)
    d = DATE(Attribute("k", "2015/05/17 21h 18min 19s"), "%Y/%m/%d %Hh %Mmin %Ss").value
    assert (d.year, d.month, d.day) == (2015, 5, 17)
    dt = DATETIME(Attribute("k", "2015-05-17T21:18:19")).value
    assert (dt.hour, dt.minute, dt.second) == (21, 18, 19)
    dt2 = DATETIME(Attribute("k", dt)).value
    assert dt2 == dt


def test_strptime_translation():
    assert strptime_to_spark("%Y-%m-%dT%H:%M:%S") == "yyyy-MM-dd'T'HH:mm:ss"
    assert strptime_to_spark("%Y/%m/%d %Hh %Mmin %Ss") == "yyyy/MM/dd HH'h' mm'min' ss's'"


# ---- vectorized path through a conversion ----------------------------------

def _convert_single(spark, value_exprs: str, pdf: pd.DataFrame):
    schema = f"""
ENTITY("T"):
    NODE("N") n:
        + id = INT(T.id)
{value_exprs}
"""
    store = Converter(schema, [("T", spark.createDataFrame(pdf))])(spark)
    return store.nodes.collect()[0].asDict()


def test_vectorized_casts(spark):
    row = _convert_single(
        spark,
        """        - i = INT(T.f)
        - f = FLOAT(T.s)
        - s = STR(T.i)
        - b = BOOL(T.s)
        - bf = BOOL(T.empty)
        - sb = STR(T.flag)
""",
        pd.DataFrame({"id": [1], "f": [5.9], "s": ["40"], "i": [7],
                      "empty": [""], "flag": [True]}),
    )
    assert row["i"] == 5          # python int() truncates toward zero
    assert row["f"] == 40.0
    assert row["s"] == "7"
    assert row["b"] is True
    assert row["bf"] is False     # empty string falsy
    assert row["sb"] == "True"    # python str(True), not SQL 'true'


def test_vectorized_bool_false_string(spark):
    row = _convert_single(
        spark, "        - b = BOOL(T.s)\n",
        pd.DataFrame({"id": [1], "s": ["False"]}),
    )
    assert row["b"] is True  # bug-compat with reference


def test_vectorized_dates(spark):
    row = _convert_single(
        spark,
        """        - d = DATE(T.ds)
        - dt = DATETIME(T.ds)
        - d2 = DATE(T.other, "%Y/%m/%d %Hh %Mmin %Ss")
""",
        pd.DataFrame({"id": [1], "ds": ["2015-05-17T21:18:19"],
                      "other": ["2015/05/17 21h 18min 19s"]}),
    )
    assert row["d"] == datetime.date(2015, 5, 17)
    assert row["dt"] == datetime.datetime(2015, 5, 17, 21, 18, 19)
    assert row["d2"] == datetime.date(2015, 5, 17)


def test_static_value_types(spark):
    row = _convert_single(
        spark,
        """        - s = "text"
        - i = 42
        - f = 1.5
        - b = True
""",
        pd.DataFrame({"id": [1]}),
    )
    assert row["s"] == "text" and row["i"] == 42
    assert row["f"] == 1.5 and row["b"] is True


def test_dynamic_typed_props_sample_inference(spark):
    """Round 3: the dynamic path infers property schema from a bounded
    driver-side sample (no RDD, no spark.read.json pass) with type
    promotion long+double→double, mixed→string."""
    import pandas as pd
    from pyspark.sql import functions as F
    from data2neo_spark.plans.dynamic import _typed_props

    df = spark.createDataFrame(pd.DataFrame({
        "props_json": [
            '{"a": 1, "b": "x", "c": true}',
            '{"a": 2.5, "b": 7, "d": 3}',
            None,
        ]
    }))
    out, names = _typed_props(df, "props_json")
    assert names == ["a", "b", "c", "d"]
    types = dict(out.select(*names).dtypes)
    assert types == {"a": "double", "b": "string", "c": "boolean", "d": "bigint"}
    rows = {r["b"]: r.asDict() for r in out.filter(F.col("b").isNotNull()).collect()}
    assert rows["x"]["a"] == 1.0 and rows["x"]["c"] is True
    assert rows["7"]["a"] == 2.5 and rows["7"]["d"] == 3


def test_vectorized_postprocessor_output_type(spark):
    """A vectorized postprocessor's output column is typed from its probe
    result, a numpy scalar: ``s + 1`` on an INT column stays ``bigint``."""
    from data2neo_spark import register_vectorized_attribute_postprocessor

    @register_vectorized_attribute_postprocessor
    def vec_plus_one(s):
        return s + 1

    schema = """
ENTITY("T"):
    NODE("N") n:
        + id = INT(T.id)
        - j = vec_plus_one(INT(T.x))
"""
    store = Converter(schema, [
        ("T", spark.createDataFrame(pd.DataFrame({"id": [1, 2], "x": [10, 20]})))
    ])(spark)
    assert store.nodes.schema["j"].dataType.simpleString() == "bigint"
    assert sorted((r["id"], r["j"]) for r in store.nodes.collect()) == [
        (1, 11), (2, 21)
    ]
