"""FeatureStore facade: end-to-end build -> leakage gate -> materialize
-> state reload, against the same pandas oracles as the unit pieces."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from torchestra_spark import Feature, IndexLookup, Pipeline, StandardScore
from torchestra_spark.featurestore import FeatureStore
from torchestra_spark.io.sources import feature_events

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


@pytest.fixture(scope="module")
def feats(spark, events):
    n = int(events.agg(F.max("user_id")).first()[0]) + 1
    return feature_events(spark, n_entities=n, seed=7, partitions=4).cache()


def _make_store():
    return (
        FeatureStore(entity="user_id", ts="ts", order_tiebreak="event_id")
        .add_lags("value", lags=(1,))
        .add_sessionization(gap_sec=6 * 3600.0)
        .add_pipeline(
            Pipeline(
                {
                    "value_z": Feature("value", [StandardScore()]),
                    "etype_idx": Feature("event_type", [IndexLookup()]),
                }
            )
        )
    )


def test_build_and_leakage_gate(spark, events, feats):
    store = _make_store().add_feature_table(feats, ts="feature_ts", name="f",
                                            value_cols=["fval"])
    fv = store.build(events)
    store.assert_leakage_free(fv)
    cols = set(fv.columns)
    assert {"fval", "f_matched_ts", "value_lag1", "session_id", "value_z", "etype_idx"} <= cols
    assert fv.count() == events.count()


def test_materialize_and_resume(spark, events, feats, tmp_path):
    store = _make_store().add_feature_table(feats, ts="feature_ts", name="f",
                                            value_cols=["fval"])
    fv = store.build(events)
    out = str(tmp_path / "fv")
    store.materialize(fv, out, n_buckets=4, wave_size=2)
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    # idempotent re-run
    store.materialize(fv, out, n_buckets=4, wave_size=2)
    assert spark.read.parquet(out).count() == events.count()


def test_default_materialize_is_one_write_of_one_file_per_bucket(
    spark, events, feats, tmp_path, monkeypatch
):
    """The built spine is hash-partitioned on the entity, so with
    n_buckets a multiple of the shuffle partitions every bucket is one
    file, written by one job that runs the spine once."""
    import os

    from pyspark.sql import DataFrameWriter

    store = _make_store().add_feature_table(feats, ts="feature_ts", name="f",
                                            value_cols=["fval"])
    fv = store.build(events)
    assert 64 % int(spark.conf.get("spark.sql.shuffle.partitions")) == 0
    writes = []
    real = DataFrameWriter.parquet
    monkeypatch.setattr(
        DataFrameWriter, "parquet", lambda self, p, *a, **kw: writes.append(p) or real(self, p, *a, **kw)
    )
    out = str(tmp_path / "fv")
    # keep every shuffle partition its own task: AQE would merge this
    # small input into one task, which writes one file per bucket anyway
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        store.materialize(fv, out)  # 64 buckets, no bound on buckets per job
    finally:
        spark.conf.set(coalesce, prev)
    assert writes == [out]
    bucket_dirs = [d for d in os.listdir(out) if d.startswith("__ckpt_bucket=")]
    assert bucket_dirs
    for d in bucket_dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    assert spark.read.parquet(out).count() == events.count()


def test_state_reload_produces_identical_vectors(spark, events, feats, tmp_path):
    store = _make_store().add_feature_table(feats, ts="feature_ts", name="f",
                                            value_cols=["fval"])
    fv1 = store.build(events)
    p = str(tmp_path / "state.json")
    store.save_state(p)

    fresh = _make_store().add_feature_table(feats, ts="feature_ts", name="f",
                                            value_cols=["fval"]).load_state(p)
    fv2 = fresh.build(events, fit=False)
    a = fv1.select("event_id", "value_z").toPandas().sort_values("event_id")
    b = fv2.select("event_id", "value_z").toPandas().sort_values("event_id")
    assert np.allclose(a["value_z"].to_numpy(), b["value_z"].to_numpy(), equal_nan=True)


def test_bucketed_layout_removes_exchange(spark, tmp_path):
    """Window ops and same-bucketed joins over a bucketed table plan
    with NO Exchange on the bucketed side (the repeat-query payoff of
    the bucketed feature-store layout)."""
    from torchestra_spark.io.sources import read_bucketed, write_bucketed
    from torchestra_spark.operators.temporal import lag_lead

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    write_bucketed(ev, "ev_bucketed", "user_id", 8, sort_cols=["user_id", "ts"],
                   path=str(tmp_path / "ev_bucketed"))
    try:
        b = read_bucketed(spark, "ev_bucketed")

        # 1. entity window op: no exchange before the window sort
        plan = lag_lead(b, "user_id", "ts", "value", lags=(1,))._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan

        # 2. groupBy(entity) aggregate: bucketed scan satisfies the
        #    cluster distribution -> single-stage agg, no exchange
        plan = b.groupBy("user_id").agg(F.avg("value"))._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange" not in plan

        # plain parquet scan DOES need the exchange (control)
        plan = lag_lead(ev, "user_id", "ts", "value", lags=(1,))._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange hashpartitioning" in plan

        # results identical to the unbucketed path
        a = lag_lead(ev, "user_id", "ts", "value", lags=(1,)).select(
            "event_id", "value_lag1").toPandas().sort_values("event_id", ignore_index=True)
        c = lag_lead(b, "user_id", "ts", "value", lags=(1,)).select(
            "event_id", "value_lag1").toPandas().sort_values("event_id", ignore_index=True)
        assert np.allclose(a["value_lag1"], c["value_lag1"], equal_nan=True)
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")


def test_featurestore_rolling(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    store = FeatureStore(entity="user_id", ts="ts").add_rolling("value", 3600.0, ("mean", "count"))
    out = store.build(ev, fit=False)
    assert "value_roll_mean_3600s" in out.columns
    row = out.filter(F.col("value").isNotNull()).first()
    assert row["value_roll_count_3600s"] >= 1


# ---------------------------------------------------- fused multi-table as-of
@pytest.fixture(scope="module")
def feats2(spark, events):
    n = int(events.agg(F.max("user_id")).first()[0]) + 1
    return (
        feature_events(spark, n_entities=n, seed=11, partitions=4)
        .select("user_id", "feature_ts", F.col("fval").alias("gval"))
        .cache()
    )


def test_fused_multi_table_asof_matches_sequential(spark, events, feats, feats2):
    """FeatureStore.build with k union-strategy tables must produce
    EXACTLY the rows of the sequential one-asof_join-per-table loop —
    while shuffling the probe spine once instead of k times."""
    from torchestra_spark.operators.temporal import asof_join

    store = (
        FeatureStore(entity="user_id", ts="ts")
        .add_feature_table(feats, ts="feature_ts", name="f", value_cols=["fval"])
        .add_feature_table(feats2, ts="feature_ts", name="g", value_cols=["gval"])
    )
    fused = store.build(events)
    store.assert_leakage_free(fused)

    seq = asof_join(events, feats, on="user_id", left_ts="ts",
                    right_ts="feature_ts", value_cols=["fval"])
    seq = seq.withColumnRenamed("matched_feature_ts", "f_matched_ts")
    seq = asof_join(seq, feats2, on="user_id", left_ts="ts",
                    right_ts="feature_ts", value_cols=["gval"])
    seq = seq.withColumnRenamed("matched_feature_ts", "g_matched_ts")

    cols = sorted(fused.columns)
    assert sorted(seq.columns) == cols
    a = fused.select(*cols).orderBy("event_id").toPandas()
    b = seq.select(*cols).orderBy("event_id").toPandas()
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_fused_multi_table_single_exchange(spark, events, feats, feats2):
    """The fused plan must contain exactly ONE Exchange (the entity
    hash partitioning for the shared window) — the sequential loop has
    one per table."""
    from torchestra_spark.operators.temporal import asof_join_multi

    out = asof_join_multi(
        events,
        [
            dict(name="f", df=feats, ts="feature_ts", value_cols=["fval"]),
            dict(name="g", df=feats2, ts="feature_ts", value_cols=["gval"]),
        ],
        on="user_id",
        left_ts="ts",
        strategy="union",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # exactly one Window operator evaluates all K fill-forwards
    assert plan.count("Window") == 1, plan


def test_build_honors_explicit_union_strategy(spark, events, feats, feats2):
    """r8 review: a table added with an EXPLICIT strategy='union' (the
    user declaring its feature side must not be collected) pins the
    fused build pass to union — the auto default must not broadcast it."""
    from torchestra_spark.featurestore import FeatureStore

    store = FeatureStore(entity="user_id", ts="ts")
    store.add_feature_table(feats, ts="feature_ts", name="f",
                            value_cols=["fval"], strategy="union")
    store.add_feature_table(feats2, ts="feature_ts", name="g", value_cols=["gval"])
    out = store.build(events, fit=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    assert plan.count("Window") >= 1, plan
    # (the auto path's broadcast selection itself is plan-gated in
    # test_plan_quality over a stats-bearing source; these cached
    # MapInPandas fixtures legitimately fail the free stats gate)


def test_build_and_serve_make_one_asof_call(spark, events, feats, feats2, monkeypatch):
    """build and serve_stream each make ONE as-of call for all tables:
    build with the tables' common strategy (union when they differ),
    serve_stream with the broadcast kernel.  merge_asof has no fused
    kernel, so a table cannot declare it."""
    from torchestra_spark import featurestore

    calls = []
    real = featurestore.asof_join_multi

    def spy(left, tables, *a, **kw):
        calls.append(([t["name"] for t in tables], kw["strategy"]))
        return real(left, tables, *a, **kw)

    monkeypatch.setattr(featurestore, "asof_join_multi", spy)
    one = FeatureStore(entity="user_id", ts="ts").add_feature_table(
        feats, ts="feature_ts", name="f", value_cols=["fval"], strategy="auto")
    one.build(events, fit=False)
    mixed = one.add_feature_table(feats2, ts="feature_ts", name="g", value_cols=["gval"])
    mixed.build(events, fit=False)
    mixed.serve_stream(events)
    assert calls == [(["f"], "auto"), (["f", "g"], "union"), (["f", "g"], "broadcast")]
    with pytest.raises(ValueError, match="merge_asof"):
        FeatureStore(entity="user_id", ts="ts").add_feature_table(
            feats, ts="feature_ts", name="f", strategy="merge_asof")


def test_fused_multi_table_tolerance_and_salting(spark, events, feats, feats2):
    """Per-table tolerance applies independently inside the fused pass,
    and hot-key salting preserves results."""
    from torchestra_spark.operators.temporal import asof_join, asof_join_multi

    specs = [
        dict(name="f", df=feats, ts="feature_ts", value_cols=["fval"],
             tolerance_sec=3 * 86400.0),
        dict(name="g", df=feats2, ts="feature_ts", value_cols=["gval"]),
    ]
    plain = asof_join_multi(events, specs, on="user_id", left_ts="ts")
    salted = asof_join_multi(events, specs, on="user_id", left_ts="ts",
                             salt_buckets=4, salt_threshold=10)
    cols = sorted(plain.columns)
    a = plain.select(*cols).orderBy("event_id").toPandas()
    b = salted.select(*cols).orderBy("event_id").toPandas()
    pd.testing.assert_frame_equal(a, b, check_like=True)

    # tolerance parity with the single-table op
    single = asof_join(events, feats, on="user_id", left_ts="ts",
                       right_ts="feature_ts", value_cols=["fval"],
                       tolerance_sec=3 * 86400.0)
    sp = single.select("event_id", "fval").orderBy("event_id").toPandas()
    fp = plain.select("event_id", "fval").orderBy("event_id").toPandas()
    pd.testing.assert_frame_equal(sp, fp)


def test_featurestore_forwards_salting_to_fused_path(spark, events, feats, feats2):
    """Salt kwargs on the feature tables reach asof_join_multi (incl.
    the most-sensitive salt_threshold) without changing results."""
    plain = (
        FeatureStore(entity="user_id", ts="ts")
        .add_feature_table(feats, ts="feature_ts", name="f", value_cols=["fval"])
        .add_feature_table(feats2, ts="feature_ts", name="g", value_cols=["gval"])
        .build(events)
    )
    salted = (
        FeatureStore(entity="user_id", ts="ts")
        .add_feature_table(feats, ts="feature_ts", name="f", value_cols=["fval"],
                           salt_buckets=4, salt_threshold=5)
        .add_feature_table(feats2, ts="feature_ts", name="g", value_cols=["gval"])
        .build(events)
    )
    cols = sorted(plain.columns)
    a = plain.select(*cols).orderBy("event_id").toPandas()
    b = salted.select(*cols).orderBy("event_id").toPandas()
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_fused_multi_table_collision_raises(spark, events, feats):
    from torchestra_spark.operators.temporal import asof_join_multi

    with pytest.raises(ValueError, match="collides"):
        asof_join_multi(
            events,
            [
                dict(name="f", df=feats, ts="feature_ts", value_cols=["fval"]),
                dict(name="g", df=feats, ts="feature_ts", value_cols=["fval"]),
            ],
            on="user_id",
            left_ts="ts",
        )


def test_fused_multi_table_random_vs_pandas_oracle(spark):
    """Seeded adversarial parity for the fused as-of: 3 tables with
    exact event-ts==feature-ts ties and NULL feature values, checked
    per table against pandas merge_asof (the reference backward-asof
    semantics: exact ties match; the latest row wins even when its
    value is NULL)."""
    import numpy as np

    from torchestra_spark.operators.temporal import asof_join_multi

    rng = np.random.RandomState(11)
    n_ev, n_ent, span = 400, 40, 60
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n_ev),
            "user_id": rng.randint(0, n_ent, n_ev),
            "ts": pd.to_datetime(1700000000 + rng.randint(0, span, n_ev), unit="s"),
        }
    )
    tabs = []
    for t in range(3):
        n = 150
        f = pd.DataFrame(
            {
                "user_id": rng.randint(0, n_ent, n),
                # second-aligned so exact event==feature ties occur, plus
                # a per-row microsecond jitter making each (user, ts)
                # unique — among EQUAL feature ts the engine's window
                # tie order is nondeterministic, which merge_asof can't
                # mirror; exact event-vs-feature ties stay exact because
                # events are whole seconds
                "feature_ts": pd.to_datetime(
                    (1700000000 + rng.randint(0, span, n)) * 1_000_000 + np.arange(n),
                    unit="us",
                ),
                f"v{t}": np.where(rng.rand(n) < 0.25, np.nan, rng.randn(n)),
            }
        )
        # exact-tie rows: clone 20 events' (user, ts) verbatim
        pick = ev.sample(20, random_state=t)
        f = pd.concat(
            [
                f,
                pd.DataFrame(
                    {
                        "user_id": pick["user_id"].to_numpy(),
                        "feature_ts": pick["ts"].to_numpy(),
                        f"v{t}": rng.randn(20),
                    }
                ),
            ],
            ignore_index=True,
        ).drop_duplicates(["user_id", "feature_ts"])
        tabs.append(f)

    fused = asof_join_multi(
        spark.createDataFrame(ev),
        [
            dict(name=f"t{t}", df=spark.createDataFrame(tabs[t]), ts="feature_ts",
                 value_cols=[f"v{t}"])
            for t in range(3)
        ],
        on="user_id",
        left_ts="ts",
    )
    got = fused.toPandas().sort_values("event_id", ignore_index=True)

    for t in range(3):
        f = tabs[t].sort_values("feature_ts", kind="stable")
        exp = pd.merge_asof(
            ev.sort_values("ts", kind="stable"),
            f[["user_id", "feature_ts", f"v{t}"]],
            left_on="ts",
            right_on="feature_ts",
            by="user_id",
            direction="backward",
        ).sort_values("event_id", ignore_index=True)
        assert np.allclose(
            got[f"v{t}"].to_numpy(dtype=float),
            exp[f"v{t}"].to_numpy(dtype=float),
            equal_nan=True,
        ), f"table {t} values diverge"
        gm = pd.to_datetime(got[f"t{t}_matched_ts"])
        em = pd.to_datetime(exp["feature_ts"])
        assert gm.isna().equals(em.isna()), f"table {t} match-null divergence"
        assert (gm.dropna().to_numpy() == em.dropna().to_numpy()).all()
