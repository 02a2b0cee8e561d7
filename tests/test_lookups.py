"""Vocabulary lookup goldens — verbatim reference fixtures
(/root/reference/src/torchestra/test_lookups.py:54-64,126,181-200,
268-288,397-416,475-504): exact-equality on counts, ratios, indices,
eliminator variants, empty-fit edge cases, and state round-trips."""

import numpy as np
import pandas as pd
import pytest

from torchestra_spark import (
    CountLookup,
    Feature,
    IndexLookup,
    IntCountLookup,
    IntIndexLookup,
    IntRatioLookup,
    MinThreshold,
    Pipeline,
    RatioLookup,
    RatioThreshold,
    TopK,
    sort_counts,
)

# test_lookups.py:56-57 fixture
SHARD1 = list("abacabdabcabd")
SHARD2 = list("abaeeedebcabd")
TRAIN = SHARD1 + SHARD2  # counts: a:8 b:7 c:3 d:4 e:4
PROBE = list("abcdef")

INT_TRAIN = [1, 2, 1, -3, 1, 2, 4, 1, 2, -3, 1, 2, 1, 2, 1, 5, 5, 5, 4, 5, 2, 3, 1, 2, 4]
INT_PROBE = [1, 2, 3, 4, 5, -3, 99]


@pytest.fixture(scope="module")
def train_df(spark):
    pdf = pd.DataFrame({"id": range(len(TRAIN)), "k": TRAIN})
    return spark.createDataFrame(pdf).repartition(2).cache()


@pytest.fixture(scope="module")
def probe_df(spark):
    pdf = pd.DataFrame({"id": range(len(PROBE)), "k": PROBE})
    return spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def int_train_df(spark):
    pdf = pd.DataFrame({"id": range(len(INT_TRAIN)), "k": pd.array(INT_TRAIN, dtype="int64")})
    return spark.createDataFrame(pdf).repartition(2).cache()


@pytest.fixture(scope="module")
def int_probe_df(spark):
    pdf = pd.DataFrame({"id": range(len(INT_PROBE)), "k": pd.array(INT_PROBE, dtype="int64")})
    return spark.createDataFrame(pdf).cache()


def _col(df, name):
    return [r[name] for r in df.select("id", name).orderBy("id").collect()]


def _fit_probe(train, probe, op):
    pipe = Pipeline({"y": Feature("k", [op])})
    pipe.fit(train)
    return _col(pipe.transform(probe), "y"), pipe


def test_sort_counts_order():
    # count desc, stable alphabetical tiebreak (_lookups.py:547-551)
    assert sort_counts({"a": 8, "b": 7, "c": 3, "d": 4, "e": 4}) == ["a", "b", "d", "e", "c"]
    assert sort_counts({"c": 1, "a": 1, "b": 1}) == ["a", "b", "c"]


def test_count_lookup(train_df, probe_df):
    # golden test_lookups.py:61-64
    got, pipe = _fit_probe(train_df, probe_df, CountLookup())
    assert got == [8, 7, 3, 4, 4, 0]
    op = pipe.features["y"].ops[0]
    assert op.counts == {"a": 8, "b": 7, "c": 3, "d": 4, "e": 4}
    assert op.total == 26


def test_count_lookup_min_threshold(train_df, probe_df):
    # test_lookups.py:67-74 pattern
    got, _ = _fit_probe(train_df, probe_df, CountLookup(MinThreshold(5)))
    assert got == [8, 7, 0, 0, 0, 0]


def test_ratio_lookup(train_df, probe_df):
    # golden test_lookups.py:126
    got, _ = _fit_probe(train_df, probe_df, RatioLookup())
    assert np.allclose(got, [8 / 26, 7 / 26, 3 / 26, 4 / 26, 4 / 26, 0.0])


def test_ratio_lookup_ratio_threshold(train_df, probe_df):
    # keep ratio >= 4/26; denominator is the pre-elimination total
    got, pipe = _fit_probe(train_df, probe_df, RatioLookup(RatioThreshold(4 / 26)))
    op = pipe.features["y"].ops[0]
    assert op.total == 8 + 7 + 4 + 4
    assert np.allclose(got, [8 / 23, 7 / 23, 0.0, 4 / 23, 4 / 23, 0.0])


def test_index_lookup(train_df, probe_df):
    # golden test_lookups.py:188-189: vocab order a,b,d,e,c ->
    # indices 2,3,4,5,6 ; probe [a b c d e f] -> [2 3 6 4 5 1]
    got, pipe = _fit_probe(train_df, probe_df, IndexLookup())
    assert got == [2, 3, 6, 4, 5, 1]
    assert pipe.features["y"].ops[0].dictionary_size() == 7


def test_index_lookup_custom_indices(train_df, probe_df):
    # test_lookups.py:192-200: padding=3, unknown=0 -> taken {3,0},
    # assignment a->1, b->2, d->4, e->5, c->6
    got, _ = _fit_probe(train_df, probe_df, IndexLookup(padding_idx=3, unknown_idx=0))
    assert got == [1, 2, 6, 4, 5, 0]


def test_index_lookup_topk_stable_ties(spark, probe_df):
    # test_lookups.py:499-504: all-equal counts -> alphabetical top-k
    pdf = pd.DataFrame({"id": range(5), "k": ["e", "d", "c", "b", "a"]})
    train = spark.createDataFrame(pdf)
    got, pipe = _fit_probe(train, probe_df, IndexLookup(TopK(3)))
    op = pipe.features["y"].ops[0]
    assert set(op.lookup) == {"a", "b", "c"}
    assert got == [2, 3, 4, 1, 1, 1]


def test_index_lookup_empty_fit(spark, probe_df):
    # test_lookups.py:217-231: empty fit -> all unknown
    train = spark.createDataFrame(pd.DataFrame({"id": [0], "k": ["x"]})).filter("id < 0")
    got, pipe = _fit_probe(train, probe_df, IndexLookup())
    assert got == [1] * 6
    assert pipe.features["y"].ops[0].dictionary_size() == 2


def test_int_count_lookup(int_train_df, int_probe_df):
    counts = pd.Series(INT_TRAIN).value_counts().to_dict()
    got, _ = _fit_probe(int_train_df, int_probe_df, IntCountLookup())
    assert got == [counts.get(k, 0) for k in INT_PROBE]


def test_int_ratio_lookup(int_train_df, int_probe_df):
    counts = pd.Series(INT_TRAIN).value_counts().to_dict()
    total = len(INT_TRAIN)
    got, _ = _fit_probe(int_train_df, int_probe_df, IntRatioLookup())
    assert np.allclose(got, [counts.get(k, 0) / total for k in INT_PROBE])


def test_int_index_lookup(int_train_df, int_probe_df):
    # counts: 1:8, 2:7, 5:5? -> compute; ordering count desc then str(key) asc
    counts = pd.Series(INT_TRAIN).value_counts().to_dict()
    order = sort_counts({str(k): v for k, v in counts.items()})
    expect_lookup = {}
    taken = {0, 1}
    i = 0
    for k in order:
        while i in taken:
            i += 1
        expect_lookup[int(k)] = i
        i += 1
    got, pipe = _fit_probe(int_train_df, int_probe_df, IntIndexLookup())
    assert pipe.features["y"].ops[0].lookup == expect_lookup
    assert got == [expect_lookup.get(k, 1) for k in INT_PROBE]


# get_state() of each op below fitted on TRAIN / INT_TRAIN: the saved
# state format, pinned key for key
STATE_GOLDENS = {
    "c": {"counts": {"a": 8, "b": 7, "c": 3, "d": 4, "e": 4}, "total": 26,
          "eliminator": {"kind": "NoThreshold"}},
    "r": {"ratios": {"a": 8 / 23, "b": 7 / 23, "d": 4 / 23, "e": 4 / 23}, "total": 23,
          "eliminator": {"kind": "MinThreshold", "threshold": 4}},
    "i": {"lookup": {"a": 2, "b": 3, "d": 4}, "padding_idx": 0, "unknown_idx": 1,
          "eliminator": {"kind": "TopK", "k": 3}},
    "ic": {"counts": {"1": 8, "2": 7, "5": 4, "4": 3, "-3": 2, "3": 1}, "total": 25,
           "eliminator": {"kind": "NoThreshold"}},
    "ir": {"ratios": {"1": 8 / 19, "2": 7 / 19, "5": 4 / 19}, "total": 19,
           "eliminator": {"kind": "MinThreshold", "threshold": 4}},
    "ii": {"lookup": {"1": 2, "2": 3, "5": 4}, "padding_idx": 0, "unknown_idx": 1,
           "eliminator": {"kind": "TopK", "k": 3}},
}


def test_state_roundtrip(train_df, probe_df, int_train_df, int_probe_df, tmp_path):
    # test_lookups.py:77-87,203-214 pattern
    def pipes():
        return (
            Pipeline(
                {
                    "c": Feature("k", [CountLookup()]),
                    "r": Feature("k", [RatioLookup(MinThreshold(4))]),
                    "i": Feature("k", [IndexLookup(TopK(3))]),
                }
            ),
            Pipeline(
                {
                    "ic": Feature("k", [IntCountLookup()]),
                    "ir": Feature("k", [IntRatioLookup(MinThreshold(4))]),
                    "ii": Feature("k", [IntIndexLookup(TopK(3))]),
                }
            ),
        )

    for pipe, fresh, train, probe in zip(
        pipes(), pipes(), [train_df, int_train_df], [probe_df, int_probe_df]
    ):
        pipe.fit(train)
        for name, feat in pipe.features.items():
            assert feat.ops[0].get_state() == STATE_GOLDENS[name], name
        out1 = pipe.transform(probe)
        path = str(tmp_path / "lk.json")
        pipe.save_state(path)
        out2 = fresh.load_state(path).transform(probe)
        for name, feat in fresh.features.items():
            assert feat.ops[0].get_state() == STATE_GOLDENS[name], name
            assert _col(out1, name) == _col(out2, name), name


@pytest.mark.parametrize(
    "op, expect",
    [
        (IntCountLookup(), [1, 0, 0]),
        (IntRatioLookup(), [1 / 3, 0.0, 0.0]),
        (IntIndexLookup(), [3, 1, 1]),  # vocab order 2, 1 -> indices 2, 3
    ],
    ids=["count", "ratio", "index"],
)
def test_int_lookup_null_key(spark, op, expect):
    # NULL keys are skipped at fit and map to the OOV default at
    # transform, like the string lookups
    train = spark.createDataFrame([(0, 1), (1, 2), (2, 2), (3, None)], "id long, k bigint")
    probe = spark.createDataFrame([(0, 1), (1, None), (2, 3)], "id long, k bigint")
    got, _ = _fit_probe(train, probe, op)
    assert got == expect


BIG = 2**60


@pytest.mark.parametrize(
    "op, expect",
    [
        (IntCountLookup(), [2, 2, 0, 1]),
        (IntRatioLookup(), [2 / 3, 2 / 3, 0.0, 1 / 3]),
        (IntIndexLookup(), [2, 2, 1, 3]),
    ],
    ids=["count", "ratio", "index"],
)
def test_int_lookup_exact_bigint_keys_beside_null(spark, op, expect):
    # keys above 2**53 that share one Arrow batch with a NULL key are
    # looked up exactly: 2**60+1 is not rounded onto its neighbour 2**60
    keys = [BIG + 1, BIG + 1, None, BIG]
    df = spark.createDataFrame(list(enumerate(keys)), "id long, k bigint").coalesce(1)
    got, pipe = _fit_probe(df, df, op)
    assert got == expect


NAN, INF = float("nan"), float("inf")


@pytest.mark.parametrize(
    "op, expect, state",
    [
        (IntCountLookup(), [1, 2, 0, 0, 0, 0, 0], {"1": 1, "2": 2}),
        (IntRatioLookup(), [1 / 3, 2 / 3, 0.0, 0.0, 0.0, 0.0, 0.0], {"1": 1 / 3, "2": 2 / 3}),
        (IntIndexLookup(), [3, 2, 1, 1, 1, 1, 1], {"2": 2, "1": 3}),
    ],
    ids=["count", "ratio", "index"],
)
@pytest.mark.parametrize(
    "dirty", [[], [NAN], [NAN, INF, -INF, 1.5, 1e19]], ids=["clean", "nan", "nan_inf_frac"]
)
def test_int_lookup_double_key(spark, op, expect, state, dirty):
    # an integral double keys like its int; NULL, NaN, ±inf, a fractional
    # value and one past the bigint range are no integer key: left out at
    # fit and mapped to the OOV default at transform, never truncated
    keys = [1.0, 2.0, 2.0, None] + dirty
    train = spark.createDataFrame(list(enumerate(keys)), "id long, k double")
    probe_keys = [1.0, 2.0, None, NAN, 1.5, 2.5, INF]
    probe = spark.createDataFrame(list(enumerate(probe_keys)), "id long, k double")
    got, pipe = _fit_probe(train, probe, op)
    assert got == expect
    assert pipe.features["y"].ops[0].get_state()[op._table] == state


def test_shared_vocab_fit_is_one_wave(train_df):
    pipe = Pipeline(
        {
            "c": Feature("k", [CountLookup()]),
            "i": Feature("k", [IndexLookup()]),
        }
    )
    assert pipe.waves == [["c.0", "i.0"]]


def test_fused_lookups_single_arrow_crossing(spark):
    """fused_lookups == the k separate op.expr results, and the plan
    contains exactly ONE ArrowEvalPython stage (k=3 unfused has 3)."""
    from torchestra_spark.operators.lookups import fused_lookups
    from torchestra_spark.plans.pipeline import Feature, Pipeline

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "cat": ["a", "b", "a", "c", "a", "b"],
                "grp": ["x", "x", "y", "y", "y", "y"],
                "num": [1, 2, 1, 1, 3, 1],
            }
        )
    )
    c, r, ix = CountLookup(), RatioLookup(), IndexLookup()
    pipe = Pipeline(
        {"cat_cnt": Feature("cat", [c]), "grp_ratio": Feature("grp", [r]),
         "cat_idx": Feature("cat", [ix])}
    )
    pipe.fit(df)
    base = pipe.transform(df).orderBy("num", "cat", "grp").collect()
    fused = fused_lookups(
        df, {"cat_cnt": (c, "cat"), "grp_ratio": (r, "grp"), "cat_idx": (ix, "cat")}
    ).orderBy("num", "cat", "grp").collect()
    for b, f in zip(base, fused):
        assert b["cat_cnt"] == f["cat_cnt"]
        assert abs(b["grp_ratio"] - f["grp_ratio"]) < 1e-12
        assert b["cat_idx"] == f["cat_idx"]

    fused_df = fused_lookups(
        df, {"cat_cnt": (c, "cat"), "grp_ratio": (r, "grp"), "cat_idx": (ix, "cat")}
    )
    plan = fused_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_fused_lookups_broadcast_branch(spark):
    """Vocabularies above _BROADCAST_MIN ride a TorrentBroadcast — same
    results as the per-op exprs."""
    import numpy as np

    from torchestra_spark.operators.lookups import _BROADCAST_MIN, fused_lookups
    from torchestra_spark.plans.pipeline import Feature, Pipeline

    n = _BROADCAST_MIN + 500
    keys = [f"k{i:05d}" for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame({"cat": keys * 2}))
    c, ix = CountLookup(), IndexLookup()
    pipe = Pipeline({"cnt": Feature("cat", [c]), "idx": Feature("cat", [ix])})
    pipe.fit(df)
    assert len(c.counts) >= _BROADCAST_MIN and len(ix.lookup) >= _BROADCAST_MIN
    probe = spark.createDataFrame(pd.DataFrame({"cat": keys[:50] + ["unseen"]}))
    out = fused_lookups(probe, {"cnt": (c, "cat"), "idx": (ix, "cat")}).toPandas()
    assert (out.loc[out["cat"] != "unseen", "cnt"] == 2).all()
    assert (out.loc[out["cat"] == "unseen", "cnt"] == 0).all()
    assert (out.loc[out["cat"] == "unseen", "idx"] == 1).all()  # unknown_idx


def test_vocab_collect_cap(spark, monkeypatch):
    """An unbounded-cardinality vocabulary without an eliminator raises
    an actionable error instead of silently OOMing the driver."""
    from pyspark.sql import functions as F

    from torchestra_spark.plans.pipeline import Feature, Pipeline

    monkeypatch.setattr(Pipeline, "_MAX_VOCAB", 10)
    df = spark.createDataFrame(pd.DataFrame({"cat": [f"k{i}" for i in range(50)]}))
    with pytest.raises(RuntimeError, match="Add an eliminator"):
        Pipeline({"c": Feature("cat", [CountLookup()])}).fit(df)
    # an eliminator that keeps it under the cap fits fine
    Pipeline({"c": Feature("cat", [CountLookup(TopK(5))])}).fit(df)
    # a grouped fit has no eliminator: its error names the group column
    from torchestra_spark.operators.scalers import GroupedStandardScore

    gdf = df.withColumn("x", F.lit(1.0))
    with pytest.raises(RuntimeError, match="group column 'cat'") as err:
        Pipeline({"z": Feature("x", [GroupedStandardScore("cat")])}).fit(gdf)
    assert "SPARK_GRAFT_MAX_VOCAB" in str(err.value)
    assert "eliminator" not in str(err.value)


def test_hash_bucket_vocabulary_free(spark):
    from pyspark.sql import functions as F

    from torchestra_spark.operators.lookups import HashBucket

    rows = [(i, f"key{i}") for i in range(100)] + [(100, "key0"), (101, None)]
    df = spark.createDataFrame(rows, "id long, k string")
    for method in ("xxhash64", "poly31"):
        hb = HashBucket(n_buckets=4096, seed=3, method=method)
        out = {r.id: r.b for r in df.select("id", hb.expr(F.col("k")).alias("b")).collect()}
        assert out[100] == out[0], method           # same key -> same bucket
        assert out[101] == 0, method                # NULL -> reserved 0
        assert all(0 <= v <= 4095 for v in out.values()), method
        # 100 distinct keys spread over 4095 buckets: expect ~99 distinct
        assert len({out[i] for i in range(100)}) >= 90, method
        # state round-trip
        hb2 = HashBucket()
        hb2.set_state(hb.get_state())
        out2 = {r.id: r.b for r in df.select("id", hb2.expr(F.col("k")).alias("b")).collect()}
        assert out2 == out
