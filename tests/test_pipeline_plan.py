"""FitPlanner structural tests — mirror the reference StatsPlan tests
(/root/reference/src/torchestra/test_stats_plan.py:63-264): exact
dependency maps, wave membership, stats-behind-stats chains, plus a
staged E2E fit with hand-derived expectations (:267-355)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from torchestra_spark import Feature, MinMaxScale, Pipeline, StandardScore
from torchestra_spark.core import FitKind, FittedTransform, Transform


class AddTotal(FittedTransform):
    """Test op like the reference tests' TotalAdder: fit the column sum,
    transform x + total (a stats op whose output feeds later stats)."""

    fit_kind = FitKind.SCALAR_AGG

    def __init__(self):
        super().__init__()
        self.total = 0.0

    def fit_aggs(self, col: Column):
        return {"total": F.sum(col.cast("double"))}

    def fit_finalize(self, stats):
        self.total = float(stats["total"])
        self._fitted = True

    def expr(self, col: Column) -> Column:
        self._require_fitted()
        return col.cast("double") + F.lit(self.total)

    def get_state(self):
        return {"total": self.total}

    def set_state(self, state):
        self.total = float(state["total"])
        self._fitted = True


@pytest.fixture(scope="module")
def sdf(spark):
    return spark.createDataFrame(
        pd.DataFrame({"x": [1.0, 2.0, 3.0, 4.0], "y": [10.0, 20.0, 30.0, 40.0]})
    ).cache()


def test_parallel_branches_one_wave(sdf):
    # two independent branches from the same input fit in one wave
    # (Parallel semantics, _stats_plan.py:29-33)
    pipe = Pipeline(
        {
            "a": Feature("x", [AddTotal()]),
            "b": Feature("x", [AddTotal()]),
        }
    )
    assert pipe.dependencies == {"a.0": set(), "b.0": set()}
    assert pipe.waves == [["a.0", "b.0"]]


def test_sequential_chain_accumulates_deps(sdf):
    # deps accumulate left->right within a chain (_stats_plan.py:35-38)
    pipe = Pipeline({"a": Feature("x", [AddTotal(), AddTotal(), AddTotal()])})
    assert pipe.dependencies == {
        "a.0": set(),
        "a.1": {"a.0"},
        "a.2": {"a.0", "a.1"},
    }
    assert pipe.waves == [["a.0"], ["a.1"], ["a.2"]]


def test_cross_feature_chain(sdf):
    # feature rooted at another feature inherits its stats deps
    pipe = Pipeline(
        {
            "a": Feature("x", [AddTotal()]),
            "b": Feature("a", [AddTotal()]),
            "c": Feature("b", [AddTotal()]),
            "d": Feature("x", [AddTotal()]),  # parallel to a: wave 0
        }
    )
    assert pipe.dependencies["b.0"] == {"a.0"}
    assert pipe.dependencies["c.0"] == {"a.0", "b.0"}
    assert pipe.waves == [["a.0", "d.0"], ["b.0"], ["c.0"]]


def test_mixed_stateless_ops_not_in_plan(sdf):
    from torchestra_spark import Clamp, NanToNum

    pipe = Pipeline(
        {"a": Feature("x", [NanToNum(), AddTotal(), Clamp(0.0, 1e9), AddTotal()])}
    )
    assert set(pipe.dependencies) == {"a.1", "a.3"}
    assert pipe.waves == [["a.1"], ["a.3"]]


def test_feature_cycle_raises():
    with pytest.raises(ValueError, match="feature cycle through 'a'"):
        Pipeline({"a": Feature("b", [AddTotal()]), "b": Feature("a", [AddTotal()])})


def test_diamond_dag_plans_in_linear_time():
    """30 stacked diamonds: l_i, r_i = StandardScore(d_{i-1}) and
    d_i = Ratio(l_i, r_i).  Each d_i reaches d0 along 2^i paths, so a
    walk that re-derives a feature's upstream stats per path never
    finishes; the plan is one wave per level."""
    from torchestra_spark import Ratio

    depth = 30
    feats = {"d0": Feature("x", [StandardScore()])}
    for i in range(1, depth + 1):
        feats[f"l{i}"] = Feature(f"d{i - 1}", [StandardScore()])
        feats[f"r{i}"] = Feature(f"d{i - 1}", [StandardScore()])
        feats[f"d{i}"] = Feature([f"l{i}", f"r{i}"], [Ratio()])
    pipe = Pipeline(feats)
    assert len(pipe.waves) == depth + 1
    assert pipe.waves[-1] == [f"l{depth}.0", f"r{depth}.0"]
    assert pipe.stats_op_paths[-1] == f"r{depth}.0"
    assert pipe.dependencies[f"r{depth}.0"] == {"d0.0"} | {
        f"{side}{i}.0" for i in range(1, depth) for side in "lr"
    }


class Shift(Transform):
    """Stateless x + c (test op): keeps the right side of a diamond
    positive, so each level's ratio varies and its std stays finite."""

    def __init__(self, c: float):
        self.c = c

    def expr(self, col: Column) -> Column:
        return col.cast("double") + F.lit(self.c)


def _diamonds(depth: int) -> Pipeline:
    """l_i = StandardScore(d_{i-1}), r_i = StandardScore(d_{i-1}) + 3 and
    d_i = Ratio(l_i, r_i) over d0 = StandardScore(x).  On 8 rows a
    z-score lies within ±7/sqrt(8) < 3, so r_i > 0, and d_i = z/(z+3) is
    increasing in z: every level keeps 8 distinct values."""
    from torchestra_spark import Ratio

    feats = {"d0": Feature("x", [StandardScore()])}
    for i in range(1, depth + 1):
        feats[f"l{i}"] = Feature(f"d{i - 1}", [StandardScore()])
        feats[f"r{i}"] = Feature(f"d{i - 1}", [StandardScore(), Shift(3.0)])
        feats[f"d{i}"] = Feature([f"l{i}", f"r{i}"], [Ratio()])
    return Pipeline(feats)


_DIAMOND_X = [1.0, 2.0, 4.0, 7.0, 11.0, 16.0, 22.0, 29.0]


def _diamond_frame(spark):
    return spark.range(1).select(F.explode(F.array(*map(F.lit, _DIAMOND_X))).alias("x"))


def test_diamond_dag_fit_hand_derived(spark):
    """Depth 3: each level's StandardScore parameters equal the sample
    mean and std (ddof=1) of the previous level's values, worked out
    here in numpy level by level."""
    pipe = _diamonds(3)
    pipe.fit(_diamond_frame(spark))
    d = np.array(_DIAMOND_X)
    m, s = d.mean(), d.std(ddof=1)
    got = pipe.features["d0"].ops[0]
    assert np.isclose(got.mean, m, rtol=1e-12) and np.isclose(got.std, s, rtol=1e-12)
    d = (d - m) / s
    for i in range(1, 4):
        m, s = d.mean(), d.std(ddof=1)
        for side in "lr":
            got = pipe.features[f"{side}{i}"].ops[0]
            assert np.isclose(got.mean, m, rtol=1e-9, atol=1e-12), (side, i)
            assert np.isclose(got.std, s, rtol=1e-9), (side, i)
        z = (d - m) / s
        d = z / (z + 3.0)
    assert np.all(np.isfinite(d)) and d.std() > 0


def test_diamond_dag_fit_linear_in_depth(spark, monkeypatch):
    """Depth 14 (each d_i reaches d0 along 2^i paths): fit stages every
    feature once, so each wave's fit input builds in under 1 s and the
    whole fit finishes in under 60 s, with finite parameters."""
    import time

    marks = []
    orig = Pipeline._fit_scalar

    def spy(df, ops, update=False):
        marks.append(time.perf_counter())
        orig(df, ops, update)
        marks.append(time.perf_counter())

    monkeypatch.setattr(Pipeline, "_fit_scalar", staticmethod(spy))
    depth = 14
    pipe = _diamonds(depth)
    df = _diamond_frame(spark)
    t0 = time.perf_counter()
    pipe.fit(df)
    total = time.perf_counter() - t0
    assert len(marks) == 2 * (depth + 1)
    # a wave's fit input is built between the previous wave's job and its own
    builds = [marks[0] - t0] + [marks[k] - marks[k - 1] for k in range(2, len(marks), 2)]
    assert max(builds) < 1.0, builds
    assert total < 60.0, total
    for path in pipe.stats_op_paths:
        state = pipe._op(path).get_state()
        assert np.isfinite(state["mean"]) and np.isfinite(state["std"]) and state["std"] > 0, path


def test_e2e_staged_fit_hand_derived(sdf):
    # E2E with hand-derived expectations (test_stats_plan.py:267-355
    # pattern): x=[1..4] sum=10 -> a = x+10; sum(a)=50 -> b = a+50
    pipe = Pipeline({"a": Feature("x", [AddTotal()]), "b": Feature("a", [AddTotal()])})
    out = pipe.fit_transform(sdf)
    a_op = pipe.features["a"].ops[0]
    b_op = pipe.features["b"].ops[0]
    assert a_op.total == 10.0
    assert b_op.total == 10 + 10 * 4 == 50.0
    rows = out.orderBy("x").collect()
    assert [r["a"] for r in rows] == [11.0, 12.0, 13.0, 14.0]
    assert [r["b"] for r in rows] == [61.0, 62.0, 63.0, 64.0]


def test_wave_batches_one_agg_job(sdf, monkeypatch):
    # all SCALAR_AGG ops of a wave must share ONE df.agg call
    calls = []
    orig = Pipeline._fit_scalar

    def spy(df, ops, update=False):
        calls.append(len(ops))
        return orig(df, ops, update)

    monkeypatch.setattr(Pipeline, "_fit_scalar", staticmethod(spy))
    pipe = Pipeline(
        {
            "a": Feature("x", [StandardScore()]),
            "b": Feature("x", [MinMaxScale()]),
            "c": Feature("y", [StandardScore()]),
        }
    )
    pipe.fit(sdf)
    assert calls == [3]  # one wave, one shared agg over 3 ops


def test_mixed_kind_wave(spark):
    # scalar + vocab + sketch ops in one wave each get one batched job
    from torchestra_spark import IndexLookup, TDigestDistribution

    pdf = pd.DataFrame({"x": np.arange(100, dtype=np.float64), "k": ["a", "b"] * 50})
    sdf = spark.createDataFrame(pdf)
    pipe = Pipeline(
        {
            "z": Feature("x", [StandardScore()]),
            "q": Feature("x", [TDigestDistribution(compression=100)]),
            "i": Feature("k", [IndexLookup()]),
        }
    )
    assert pipe.waves == [["z.0", "q.0", "i.0"]]
    out = pipe.fit_transform(sdf)
    r = out.orderBy("x").collect()
    assert abs(r[50]["q"] - 0.5) < 0.05
    assert r[0]["i"] in (2, 3)


def test_bind_time_type_validation(spark):
    """Composition type errors raise at fit-bind time, before any job
    (reference asserts adjacent module types, _pipes.py:143-146)."""
    import pytest

    from torchestra_spark.operators.lookups import CountLookup, IntCountLookup
    from torchestra_spark.operators.scalers import StandardScore
    from torchestra_spark.operators.sequences import SparseLen

    df = spark.createDataFrame([(1, "a", [1, 2])], "n int, s string, arr array<int>")
    # string lookup on a numeric column
    with pytest.raises(TypeError, match="CountLookup"):
        Pipeline({"x": Feature("n", [CountLookup()])}).fit(df)
    # int lookup on a string column
    with pytest.raises(TypeError, match="IntCountLookup"):
        Pipeline({"x": Feature("s", [IntCountLookup()])}).fit(df)
    # scaler on a string column
    with pytest.raises(TypeError, match="StandardScore"):
        Pipeline({"x": Feature("s", [StandardScore()])}).fit(df)
    # sequence op on a scalar column
    with pytest.raises(TypeError, match="SparseLen"):
        Pipeline({"x": Feature("n", [SparseLen()])}).fit(df)
    # chain propagation: SparseLen emits numeric, CountLookup needs string
    with pytest.raises(TypeError, match="CountLookup"):
        Pipeline({"x": Feature("arr", [SparseLen(), CountLookup()])}).fit(df)
    # missing source column
    with pytest.raises(ValueError, match="neither a feature nor a column"):
        Pipeline({"x": Feature("nope", [StandardScore()])}).fit(df)
    # valid chains still bind
    Pipeline({"x": Feature("arr", [SparseLen(), StandardScore()])}).fit(df)
    Pipeline({"x": Feature("s", [CountLookup()])}).fit(df)


def test_combine_features_collision():
    from torchestra_spark.operators.scalers import StandardScore
    from torchestra_spark.plans.pipeline import combine_features

    a = {"x": Feature("c1", [StandardScore()])}
    b = {"y": Feature("c2", [StandardScore()])}
    merged = combine_features(a, b)
    assert set(merged) == {"x", "y"}
    import pytest

    with pytest.raises(ValueError, match="duplicate feature name 'x'"):
        combine_features(a, {"x": Feature("c3")})


def test_transform_single_arrow_stage(spark):
    """k independent Python-boundary ops in one transform (lookups, the
    t-digest CDF, the grouped z-score, a callable sequence reducer and
    python float formatting) share ONE ArrowEvalPython stage —
    Catalyst's ExtractPythonUDFs batches adjacent Arrow UDFs of one
    kind, so no engine-side fusion is needed (and measurement shows an
    explicit struct-fused UDF is slower)."""
    from torchestra_spark.operators.lookups import CountLookup, IndexLookup, RatioLookup
    from torchestra_spark.operators.scalers import GroupedStandardScore, TDigestDistribution
    from torchestra_spark.operators.sequences import SparseMapSequences
    from torchestra_spark.operators.wrappers import ToStr

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "a": ["x", "y", "x"],
                "b": ["p", "p", "q"],
                "v": [1.0, 2.0, 3.0],
                "arr": [[1, 2], [3], []],
            }
        )
    )
    pipe = Pipeline(
        {
            "a_cnt": Feature("a", [CountLookup()]),
            "b_ratio": Feature("b", [RatioLookup()]),
            "a_idx": Feature("a", [IndexLookup()]),
            "v_z": Feature("v", [StandardScore()]),
            "v_cdf": Feature("v", [TDigestDistribution()]),
            "v_gz": Feature("v", [GroupedStandardScore("b")]),
            "arr_len": Feature("arr", [SparseMapSequences(lambda a: float(len(a)))]),
            "v_str": Feature("v", [ToStr(python_floats=True)]),
        }
    )
    out = pipe.fit_transform(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    got = out.orderBy("v").collect()
    assert [r["a_cnt"] for r in got] == [2, 1, 2]
    assert [r["a_idx"] for r in got] == [2, 3, 2]
    assert abs(got[0]["b_ratio"] - 2 / 3) < 1e-12
    assert [r["arr_len"] for r in got] == [2.0, 1.0, 0.0]
    assert [r["v_str"] for r in got] == ["1.0", "2.0", "3.0"]
    assert np.allclose([r["v_gz"] for r in got][:2], [-(2**-0.5), 2**-0.5])
    assert all(0.0 <= r["v_cdf"] <= 1.0 for r in got)


# --------------------------------------------------------- multi-input heads
def test_multi_input_feature_fit_transform(sdf):
    """Feature(["x","y"], [Ratio(), StandardScore()]) — the reference's
    Parallel(into=tuple) + TupleAsArgs multi-arg head (_pipes.py:107-149,
    306-336): the StandardScore is fit over the COMPOSED x/y expression."""
    from torchestra_spark import Ratio, StandardScore

    pipe = Pipeline({"r_z": Feature(["x", "y"], [Ratio(), StandardScore()])})
    out = pipe.fit_transform(sdf)
    # x/y = 0.1 for every row -> z-score = 0 everywhere (ddof=1 std of a
    # constant is 0 -> engine's zero-variance convention applies)
    ratios = np.array([1 / 10, 2 / 20, 3 / 30, 4 / 40])
    op = pipe.features["r_z"].ops[1]
    assert np.isclose(op.mean, ratios.mean())
    rows = out.orderBy("x").collect()
    assert all(r["r_z"] is not None for r in rows)


def test_multi_input_deps_union_across_parents(sdf):
    """A multi-input feature rooted at TWO stats-bearing parents must
    inherit both parents' stats ops as dependencies (wave 2)."""
    from torchestra_spark import Diff

    pipe = Pipeline(
        {
            "a": Feature("x", [AddTotal()]),
            "b": Feature("y", [AddTotal()]),
            "d": Feature(["a", "b"], [Diff(), AddTotal()]),
        }
    )
    assert pipe.dependencies["d.1"] == {"a.0", "b.0"}
    assert pipe.waves == [["a.0", "b.0"], ["d.1"]]
    out = pipe.fit_transform(sdf)
    # a = x + 10, b = y + 100; d_pre = a - b; sum(d_pre) fits AddTotal
    a = np.array([1, 2, 3, 4.0]) + 10
    b = np.array([10, 20, 30, 40.0]) + 100
    expect_total = float((a - b).sum())
    assert pipe.features["d"].ops[1].total == expect_total
    rows = out.orderBy("x").collect()
    assert [r["d"] for r in rows] == list(a - b + expect_total)


def test_multi_input_head_validation():
    from torchestra_spark import Ratio
    from torchestra_spark.operators.wrappers import Clamp

    # no MultiTransform head
    with pytest.raises(TypeError, match="MultiTransform head"):
        Feature(["x", "y"], [Clamp(0, 1)])
    # arity mismatch
    with pytest.raises(ValueError, match="takes 2 inputs"):
        Feature(["x", "y", "z"], [Ratio()])
    # no ops at all
    with pytest.raises(TypeError, match="MultiTransform head"):
        Feature(["x", "y"])
    # r7: a MultiTransform in a SINGLE-input feature is rejected at
    # construction (previously an opaque expr() arity TypeError at
    # compose/fit time)
    with pytest.raises(TypeError, match="FIRST op of a multi-input"):
        Feature("x", [Ratio()])
    # ... and at any non-head position of a multi-input feature
    with pytest.raises(TypeError, match="position 1"):
        Feature(["x", "y"], [Ratio(), Ratio()])
    # ... or after the head in a single-input chain
    with pytest.raises(TypeError, match="FIRST op of a multi-input"):
        Feature("x", [Clamp(0, 1), Ratio()])


def test_multi_input_bind_time_kind_check(spark):
    from torchestra_spark import Ratio

    df = spark.createDataFrame(pd.DataFrame({"x": [1.0], "s": ["a"]}))
    pipe = Pipeline({"r": Feature(["x", "s"], [Ratio()])})
    with pytest.raises(TypeError, match="Ratio"):
        pipe.validate_schema(df.schema)
    # missing column still raises the descriptive error
    pipe2 = Pipeline({"r": Feature(["x", "nope"], [Ratio()])})
    with pytest.raises(ValueError, match="nope"):
        pipe2.validate_schema(df.schema)


def test_multi_input_linear_combination(sdf):
    from torchestra_spark import LinearCombination

    pipe = Pipeline(
        {"score": Feature(["x", "y"], [LinearCombination([2.0, 0.5], bias=1.0)])}
    )
    out = pipe.fit_transform(sdf)
    rows = out.orderBy("x").collect()
    assert [r["score"] for r in rows] == [
        1 + 2 * 1 + 0.5 * 10,
        1 + 2 * 2 + 0.5 * 20,
        1 + 2 * 3 + 0.5 * 30,
        1 + 2 * 4 + 0.5 * 40,
    ]


def test_multi_input_ratio_null_on_zero_denominator(spark):
    from torchestra_spark import Ratio

    df = spark.createDataFrame(pd.DataFrame({"a": [1.0, 2.0], "b": [0.0, 4.0]}))
    out = Pipeline({"r": Feature(["a", "b"], [Ratio()])}).fit_transform(df)
    rows = out.orderBy("a").collect()
    assert rows[0]["r"] is None
    assert rows[1]["r"] == 0.5
