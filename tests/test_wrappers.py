"""Wrapper helpers (reference _wrappers.py/_debugging.py analogs):
stack/cat/split_to_cols/Unsqueeze/ToStr exactness."""

import pandas as pd
from pyspark.sql import functions as F

from torchestra_spark import Feature, Pipeline, ToStr, Unsqueeze
from torchestra_spark.operators.wrappers import cat, split_to_cols, stack


def test_stack_and_split_roundtrip(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1.0, 2.0], "b": [3.0, 4.0]}))
    stacked = df.withColumn("m", stack([F.col("a"), F.col("b")]))
    back = split_to_cols(stacked, "m", ["a2", "b2"])
    rows = back.orderBy("a").collect()
    assert [(r["a2"], r["b2"]) for r in rows] == [(1.0, 3.0), (2.0, 4.0)]


def test_cat_arrays(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [[1, 2]], "y": [[3]]}))
    got = df.select(cat([F.col("x"), F.col("y")]).alias("c")).collect()[0]["c"]
    assert list(got) == [1, 2, 3]


def test_unsqueeze(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [5.0]}))
    out = Pipeline({"u": Feature("x", [Unsqueeze()])}).fit_transform(df)
    assert list(out.collect()[0]["u"]) == [5.0]


def test_tostr_int_exact(spark):
    # python str(int) parity for integer keys (_wrappers.py:102-108)
    df = spark.createDataFrame(pd.DataFrame({"x": [-3, 0, 42, 10**12]}))
    out = Pipeline({"s": Feature("x", [ToStr()])}).fit_transform(df)
    got = [r["s"] for r in out.orderBy("x").collect()]
    assert got == [str(v) for v in sorted([-3, 0, 42, 10**12])]


def test_tostr_python_float_parity(spark):
    """python_floats=True matches python str(float) exactly, including
    exponent forms where the JVM cast differs (1e+16 vs 1.0E16)."""
    from torchestra_spark.operators.wrappers import ToStr

    vals = [1.0, 0.1, 1e16, 1.5e-07, -3.14, 123456789.123, 2e-308, float("nan")]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["s"] for r in df.select(ToStr(python_floats=True).expr(F.col("x")).alias("s"))
           .collect()]
    assert got == [str(float(v)) for v in vals]
    # default int path unchanged
    di = spark.createDataFrame([(7,), (-12,)], "x int")
    got_i = [r["s"] for r in di.select(ToStr().expr(F.col("x")).alias("s")).collect()]
    assert got_i == ["7", "-12"]


def test_nan_to_num_overrides(spark):
    """Mirrors the reference's nan/posinf/neginf override tests
    (test_wrappers.py): each replacement is independently overridable."""
    from torchestra_spark.operators.wrappers import NanToNum

    df = spark.createDataFrame([(0,)], "i int").select(
        F.lit(float("nan")).alias("n"),
        F.lit(float("inf")).alias("p"),
        F.lit(float("-inf")).alias("m"),
        F.lit(1.5).alias("x"),
    )
    op = NanToNum(nan=-1.0, posinf=99.0, neginf=-99.0)
    row = df.select(
        op.expr(F.col("n")).alias("n"),
        op.expr(F.col("p")).alias("p"),
        op.expr(F.col("m")).alias("m"),
        op.expr(F.col("x")).alias("x"),
    ).collect()[0]
    assert row["n"] == -1.0 and row["p"] == 99.0 and row["m"] == -99.0 and row["x"] == 1.5
    # defaults: ±inf -> f64 max magnitude (torch.nan_to_num semantics)
    d = NanToNum()
    row2 = df.select(d.expr(F.col("p")).alias("p"), d.expr(F.col("m")).alias("m")).collect()[0]
    assert row2["p"] > 1e308 and row2["m"] < -1e308
