"""Scaler fit/transform goldens — mirror the reference's test strategy
(/root/reference/src/torchestra/test_normalization.py): fit on seeded
data, compare fitted params and transformed output against straight
numpy computation with allclose; plus state round-trips."""

import numpy as np
import pandas as pd
import pytest

from torchestra_spark import (
    Clamp,
    Feature,
    MeanScale,
    MinMaxScale,
    NanToNum,
    Pipeline,
    RobustScale,
    StandardScore,
    TDigestDistribution,
)

RNG = np.random.RandomState(42)
DATA = RNG.rand(300)  # F3 fixture: 300 f64 values


@pytest.fixture(scope="module")
def sdf(spark):
    pdf = pd.DataFrame({"id": np.arange(len(DATA)), "x": DATA})
    return spark.createDataFrame(pdf).repartition(4).cache()


def _col(df, name):
    return np.array([r[name] for r in df.select("id", name).orderBy("id").collect()])


def test_standard_score_ddof1(sdf):
    pipe = Pipeline({"z": Feature("x", [StandardScore()])})
    out = pipe.fit_transform(sdf)
    op = pipe.features["z"].ops[0]
    assert np.isclose(op.mean, DATA.mean())
    assert np.isclose(op.std, DATA.std(ddof=1))
    expected = (DATA - DATA.mean()) / DATA.std(ddof=1)
    assert np.allclose(_col(out, "z"), expected)


def test_standard_score_ddof0(sdf):
    pipe = Pipeline({"z": Feature("x", [StandardScore(ddof=0)])})
    out = pipe.fit_transform(sdf)
    expected = (DATA - DATA.mean()) / DATA.std(ddof=0)
    assert np.allclose(_col(out, "z"), expected)


def test_minmax_scale(sdf):
    pipe = Pipeline({"y": Feature("x", [MinMaxScale()])})
    out = pipe.fit_transform(sdf)
    expected = (DATA - DATA.min()) / (DATA.max() - DATA.min())
    assert np.allclose(_col(out, "y"), expected)


def test_mean_scale(sdf):
    pipe = Pipeline({"y": Feature("x", [MeanScale()])})
    out = pipe.fit_transform(sdf)
    expected = (DATA - DATA.mean()) / (DATA.max() - DATA.min())
    assert np.allclose(_col(out, "y"), expected)


def test_robust_scale(sdf):
    # atol 1e-1 like test_normalization.py:689-709
    pipe = Pipeline({"y": Feature("x", [RobustScale()])})
    out = pipe.fit_transform(sdf)
    med = np.quantile(DATA, 0.5)
    iqr = np.quantile(DATA, 0.75) - np.quantile(DATA, 0.25)
    expected = (DATA - med) / iqr
    assert np.allclose(_col(out, "y"), expected, atol=1e-1)


def test_tdigest_distribution(spark):
    # 2000 values, cdf at the values ~ their rank, atol 1e-2
    # (test_normalization.py:615-629 pattern)
    rng = np.random.RandomState(7)
    data = rng.rand(2000)
    pdf = pd.DataFrame({"id": np.arange(2000), "x": data})
    sdf = spark.createDataFrame(pdf).repartition(4)
    pipe = Pipeline({"q": Feature("x", [TDigestDistribution()])})
    out = pipe.fit_transform(sdf)
    got = _col(out, "q")
    ranks = pd.Series(data).rank(pct=True).to_numpy()
    assert np.allclose(got, ranks, atol=1e-2)


@pytest.mark.parametrize("bad", [None, float("nan")], ids=["null", "nan"])
def test_tdigest_distribution_null_and_nan(spark, bad):
    # a NULL arrives at the digest as NaN, and NaN matches no centroid
    # interval: both map to a missing value instead of failing the
    # batch (Arrow's return path turns the kernel's NaN into NULL)
    fit = spark.createDataFrame(pd.DataFrame({"id": np.arange(100), "x": np.arange(100.0)}))
    pipe = Pipeline({"q": Feature("x", [TDigestDistribution()])})
    pipe.fit(fit)
    rows = spark.createDataFrame([(0, 50.0), (1, bad)], "id long, x double")
    got = pipe.transform(rows).orderBy("id").collect()
    assert got[1]["x"] is None if bad is None else np.isnan(got[1]["x"])
    assert got[0]["q"] == pytest.approx(0.5, abs=0.02)
    assert got[1]["q"] is None


def test_nan_to_num_clamp(spark):
    vals = [1.0, float("nan"), float("inf"), float("-inf"), -9.0, 9.0]
    pdf = pd.DataFrame({"id": range(len(vals)), "x": vals})
    sdf = spark.createDataFrame(pdf)
    pipe = Pipeline({"y": Feature("x", [NanToNum(nan=0.0), Clamp(-2.0, 2.0)])})
    out = pipe.fit_transform(sdf)
    assert _col(out, "y").tolist() == [1.0, 0.0, 2.0, -2.0, -2.0, 2.0]


def test_chained_scaler_pipeline(sdf):
    pipe = Pipeline(
        {"z": Feature("x", [StandardScore(), NanToNum(), Clamp(-1.0, 1.0)])}
    )
    out = pipe.fit_transform(sdf)
    expected = np.clip((DATA - DATA.mean()) / DATA.std(ddof=1), -1.0, 1.0)
    assert np.allclose(_col(out, "z"), expected)


def test_state_roundtrip(sdf, tmp_path):
    # test_normalization.py:386-408 pattern: fit -> save -> load into a
    # fresh pipeline -> identical outputs
    pipe = Pipeline(
        {
            "z": Feature("x", [StandardScore()]),
            "m": Feature("x", [MinMaxScale()]),
            "r": Feature("x", [RobustScale()]),
            "q": Feature("x", [TDigestDistribution()]),
        }
    )
    out1 = pipe.fit_transform(sdf)
    path = str(tmp_path / "state.json")
    pipe.save_state(path)

    fresh = Pipeline(
        {
            "z": Feature("x", [StandardScore()]),
            "m": Feature("x", [MinMaxScale()]),
            "r": Feature("x", [RobustScale()]),
            "q": Feature("x", [TDigestDistribution()]),
        }
    ).load_state(path)
    out2 = fresh.transform(sdf)
    for c in ["z", "m", "r", "q"]:
        assert np.array_equal(_col(out1, c), _col(out2, c)), c


def test_stats_behind_stats_waves(sdf):
    # stats op consuming another stats op's output fits in a later wave
    # (_stats_plan.py:89-102)
    pipe = Pipeline(
        {
            "z": Feature("x", [StandardScore()]),
            "zz": Feature("z", [MinMaxScale()]),
        }
    )
    assert pipe.waves == [["z.0"], ["zz.0"]]
    out = pipe.fit_transform(sdf)
    z = (DATA - DATA.mean()) / DATA.std(ddof=1)
    expected = (z - z.min()) / (z.max() - z.min())
    assert np.allclose(_col(out, "zz"), expected)


def test_empty_fit_degrades_to_nan(spark):
    """Fitting on an empty / all-NULL column must freeze nan parameters
    (reference behavior on empty shards), not raise TypeError."""
    import math

    from torchestra_spark.plans.pipeline import Feature, Pipeline

    df = spark.createDataFrame([], "x double")
    for op in (StandardScore(), MeanScale(), MinMaxScale()):
        pipe = Pipeline({"y": Feature("x", [op])})
        pipe.fit(df)
        assert op.is_fitted
    assert math.isnan(StandardScore().mean) is False  # ctor default untouched


def test_sketch_tree_merge_many_partitions(spark):
    """>64 input partitions triggers the executor-side tree merge of
    t-digest partials; quantiles still match numpy within the sketch
    tolerance, and driver collect volume is bounded by the fan-in."""
    import numpy as np

    from torchestra_spark.plans.pipeline import Feature, Pipeline

    rng = np.random.RandomState(0)
    vals = rng.lognormal(0, 1, 20000)
    df = spark.createDataFrame([(float(v),) for v in vals], "x double").repartition(200)
    op = RobustScale()
    Pipeline({"r": Feature("x", [op])}).fit(df)
    exp_med = np.quantile(vals, 0.5)
    exp_iqr = np.quantile(vals, 0.75) - np.quantile(vals, 0.25)
    assert abs(op.median - exp_med) < 0.05 * max(1.0, abs(exp_med))
    assert abs(op.iqr - exp_iqr) < 0.05 * max(1.0, exp_iqr)


def test_robust_scale_exact_state_roundtrip(spark, tmp_path):
    """exact-mode RobustScale round-trips its state (incl. the exact
    flag, which restores the SCALAR_AGG fit kind on load)."""
    from torchestra_spark.core import FitKind
    from torchestra_spark.plans.pipeline import Feature, Pipeline

    df = spark.createDataFrame([(float(i),) for i in range(101)], "x double")
    op = RobustScale(exact=True)
    pipe = Pipeline({"r": Feature("x", [op])})
    pipe.fit(df)
    assert op.median == 50.0 and op.iqr == 50.0  # exact quantiles of 0..100
    path = str(tmp_path / "state.json")
    pipe.save_state(path)

    op2 = RobustScale()  # defaults; state restores exact mode
    pipe2 = Pipeline({"r": Feature("x", [op2])})
    pipe2.load_state(path)
    assert op2.exact is True and op2.fit_kind is FitKind.SCALAR_AGG
    assert op2.median == 50.0 and op2.iqr == 50.0
    a = pipe.transform(df).select("r").toPandas()
    b = pipe2.transform(df).select("r").toPandas()
    assert (a["r"] == b["r"]).all()


def test_grouped_standard_score(spark):
    """Per-group fitted z-score: train params on one table, serve on
    another; OOV group -> NaN; numpy oracle per group."""
    import numpy as np

    from torchestra_spark.operators.scalers import GroupedStandardScore
    from torchestra_spark.plans.pipeline import Feature, Pipeline

    rng = np.random.RandomState(1)
    train = pd.DataFrame(
        {"g": rng.choice(["a", "b", "c"], 600), "x": rng.randn(600) * 3 + 5}
    )
    op = GroupedStandardScore("g")
    pipe = Pipeline({"z": Feature("x", [op])})
    pipe.fit(spark.createDataFrame(train))
    for g in "abc":
        v = train.loc[train["g"] == g, "x"]
        m, s = op.params[g]
        assert np.isclose(m, v.mean()) and np.isclose(s, v.std(ddof=1))
    # serve on a different table incl. an unseen group
    probe = pd.DataFrame({"g": ["a", "b", "zz"], "x": [5.0, 6.0, 7.0]})
    got = (
        pipe.transform(spark.createDataFrame(probe))
        .select("z").toPandas()["z"].to_numpy()
    )
    exp_a = (5.0 - op.params["a"][0]) / op.params["a"][1]
    exp_b = (6.0 - op.params["b"][0]) / op.params["b"][1]
    assert np.isclose(got[0], exp_a) and np.isclose(got[1], exp_b)
    assert np.isnan(got[2])  # OOV group
    # state round-trip
    op2 = GroupedStandardScore("g")
    op2.set_state(op.get_state())
    assert op2.params == op.params


def test_grouped_standard_score_fit_update(spark):
    """Incremental per-group moment merge == full fit per group."""
    import numpy as np

    from torchestra_spark.operators.scalers import GroupedStandardScore
    from torchestra_spark.plans.pipeline import Feature, Pipeline

    rng = np.random.RandomState(2)
    d1 = pd.DataFrame({"g": rng.choice(["a", "b"], 200), "x": rng.randn(200)})
    d2 = pd.DataFrame({"g": rng.choice(["b", "c"], 300), "x": rng.randn(300) + 1})
    op = GroupedStandardScore("g")
    Pipeline({"z": Feature("x", [op])}).fit(spark.createDataFrame(d1)).fit_update(
        spark.createDataFrame(d2)
    )
    ref = GroupedStandardScore("g")
    Pipeline({"z": Feature("x", [ref])}).fit(
        spark.createDataFrame(pd.concat([d1, d2], ignore_index=True))
    )
    for g in "abc":
        assert np.isclose(op.params[g][0], ref.params[g][0], rtol=1e-12)
        assert np.isclose(op.params[g][1], ref.params[g][1], rtol=1e-12)


def test_grouped_standard_score_bool_and_float_keys(spark):
    """Fit keys groups via Spark cast('string'); serving must
    canonicalize identically — boolean groups ('true' vs pandas 'True')
    and exponent-formatted floats previously NaN'd every row."""
    import numpy as np

    from torchestra_spark.operators.scalers import GroupedStandardScore
    from torchestra_spark.plans.pipeline import Feature, Pipeline

    rng = np.random.RandomState(3)
    pdf = pd.DataFrame(
        {
            "gb": rng.choice([True, False], 200),
            "gf": rng.choice([1e16, 2.5], 200),
            "x": rng.randn(200),
        }
    )
    sdf = spark.createDataFrame(pdf)
    ob, of = GroupedStandardScore("gb"), GroupedStandardScore("gf")
    pipe = Pipeline({"zb": Feature("x", [ob]), "zf": Feature("x", [of])})
    got = pipe.fit(sdf).transform(sdf).select("gb", "gf", "x", "zb", "zf").toPandas()
    assert not got["zb"].isna().any() and not got["zf"].isna().any()
    for key, col, op in [("gb", "zb", ob), ("gf", "zf", of)]:
        for g, sub in got.groupby(key):
            v = pdf.loc[pdf[key] == g, "x"]
            exp = (sub["x"] - v.mean()) / v.std(ddof=1)
            assert np.allclose(sub[col].to_numpy(), exp.to_numpy())


def test_grouped_standard_score_broadcast_many_groups(spark):
    """Above the broadcast threshold the param maps ride a
    TorrentBroadcast, not the task closure; values still correct."""
    import numpy as np

    from torchestra_spark.operators.scalers import GroupedStandardScore
    from torchestra_spark.plans.pipeline import Feature, Pipeline

    n_groups = 2000  # > _BROADCAST_MIN
    rng = np.random.RandomState(4)
    pdf = pd.DataFrame(
        {"g": [f"g{i % n_groups}" for i in range(3 * n_groups)], "x": rng.randn(3 * n_groups)}
    )
    sdf = spark.createDataFrame(pdf)
    op = GroupedStandardScore("g")
    pipe = Pipeline({"z": Feature("x", [op])})
    got = pipe.fit(sdf).transform(sdf).select("g", "x", "z").toPandas()
    assert len(op.params) == n_groups
    sub = got[got["g"] == "g7"]
    v = pdf.loc[pdf["g"] == "g7", "x"]
    assert np.allclose(sub["z"].to_numpy(), ((sub["x"] - v.mean()) / v.std(ddof=1)).to_numpy())


def test_stacked_scaler_matches_unstacked(spark):
    """Reference `.stack` parity (_normalization.py:72-88,155-171,
    263-281): k fitted scalers packaged as one module over a stacked
    array input produce element-wise exactly the unstacked outputs —
    including the degenerate delta==0 column (torch x/0 semantics)."""
    import pyspark.sql.functions as F

    from torchestra_spark import StackedScaler  # noqa: F401 (export check)
    from torchestra_spark.plans.pipeline import Feature, Pipeline

    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "id": np.arange(200),
            "a": rng.randn(200),
            "b": rng.rand(200) * 50,
            "c": np.full(200, 3.25),  # constant column: delta == 0
        }
    )
    sdf = spark.createDataFrame(pdf)

    for cls in (MeanScale, MinMaxScale, StandardScore):
        mods = []
        for c in ("a", "b", "c"):
            pipe = Pipeline({"y": Feature(c, [cls()])})
            pipe.fit(sdf)
            mods.append(pipe.features["y"].ops[0])
        stacked = cls.stack(mods)
        out = sdf.select(
            "id",
            *[mods[i].expr(F.col(c)).alias(f"u{i}") for i, c in enumerate(("a", "b", "c"))],
            stacked.expr(F.array("a", "b", "c")).alias("s"),
        ).orderBy("id")
        got = out.toPandas()
        for i in range(3):
            u = got[f"u{i}"].to_numpy(dtype=float)
            s = np.array([row[i] for row in got["s"]], dtype=float)
            assert np.allclose(u, s, equal_nan=True), (cls.__name__, i)


def test_stacked_scaler_requires_fitted():
    with pytest.raises(Exception):
        MeanScale.stack([MeanScale()])


def test_stacked_fit_is_one_agg_job(spark, monkeypatch):
    """The 3-scaler stacked fit must be ONE shared-scan agg job: all
    three MeanScales live in one Pipeline wave, so the planner batches
    their fit_aggs into a single df.agg (plans/pipeline.py:148) — the
    reference fits a `.stack`-ed module as one module
    (_normalization.py:71-88), not k sequential scans."""
    import pyspark.sql.functions as F

    from torchestra_spark.plans.pipeline import Feature, Pipeline

    rng = np.random.RandomState(11)
    sdf = spark.createDataFrame(
        pd.DataFrame({"a": rng.randn(100), "b": rng.rand(100), "c": rng.randn(100) * 4})
    )

    calls = []
    orig = Pipeline._fit_scalar

    def counting(df, ops, update=False):
        calls.append(len(ops))
        return orig(df, ops, update)

    monkeypatch.setattr(Pipeline, "_fit_scalar", staticmethod(counting))

    cols = ("a", "b", "c")
    pipe = Pipeline({f"y{i}": Feature(c, [MeanScale()]) for i, c in enumerate(cols)})
    assert len(pipe.waves) == 1  # all three fits resolve in one wave
    pipe.fit(sdf)
    assert calls == [3]  # ONE df.agg carrying all 3 ops' aggregates

    mods = [pipe.features[f"y{i}"].ops[0] for i in range(3)]
    stacked = MeanScale.stack(mods)
    got = sdf.select(stacked.expr(F.array(*cols)).alias("s")).limit(1).collect()
    assert len(got[0]["s"]) == 3
