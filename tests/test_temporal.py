"""Temporal engine tests (FIXTURES.md F2): as-of join vs pandas
merge_asof oracle (both strategies + salted skew variant), zero
temporal leakage, lag/lead/fill-forward/sessionize vs pandas."""

import datetime
import math

import numpy as np
import pandas as pd
import pytest

from torchestra_spark.io.sources import feature_events
from torchestra_spark.operators.temporal import (
    asof_join,
    fill_forward,
    lag_lead,
    sessionize,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


@pytest.fixture(scope="module")
def events_pd(events):
    return events.toPandas().sort_values(["user_id", "ts", "event_id"], ignore_index=True)


@pytest.fixture(scope="module")
def feats(spark, events_pd):
    # feature side keyed to the same user_id domain as events
    n = int(events_pd["user_id"].max()) + 1
    return feature_events(spark, n_entities=n, seed=7, partitions=4).cache()


@pytest.fixture(scope="module")
def feats_pd(feats):
    return feats.toPandas().sort_values(["user_id", "feature_ts", "seq"], ignore_index=True)


def _oracle_asof(events_pd, feats_pd, tolerance=None):
    left = events_pd.sort_values("ts", kind="stable")
    right = feats_pd.sort_values("feature_ts", kind="stable")[["user_id", "feature_ts", "fval"]]
    out = pd.merge_asof(
        left,
        right,
        left_on="ts",
        right_on="feature_ts",
        by="user_id",
        direction="backward",
        tolerance=pd.Timedelta(seconds=tolerance) if tolerance else None,
    )
    return out.sort_values("event_id", ignore_index=True)


def _check_against_oracle(got_df, events_pd, feats_pd, tolerance=None):
    got = got_df.select("event_id", "ts", "user_id", "fval", "matched_feature_ts").toPandas()
    got = got.sort_values("event_id", ignore_index=True)
    exp = _oracle_asof(events_pd, feats_pd, tolerance)
    assert len(got) == len(exp)
    assert np.allclose(got["fval"].to_numpy(), exp["fval"].to_numpy(), equal_nan=True)
    gm = got["matched_feature_ts"]
    em = exp["feature_ts"]
    assert gm.isna().equals(em.isna())
    assert (gm.dropna().to_numpy() == em.dropna().to_numpy()).all()
    # zero temporal leakage
    ok = got["matched_feature_ts"].isna() | (got["matched_feature_ts"] <= got["ts"])
    assert ok.all(), "temporal leakage detected"


def test_asof_union(events, feats, events_pd, feats_pd):
    out = asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"])
    _check_against_oracle(out, events_pd, feats_pd)


def test_asof_union_salted(events, feats, events_pd, feats_pd):
    out = asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], salt_buckets=4)
    _check_against_oracle(out, events_pd, feats_pd)


def test_asof_merge_strategy(events, feats, events_pd, feats_pd):
    out = asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], strategy="merge_asof")
    _check_against_oracle(out, events_pd, feats_pd)


def test_asof_tolerance(events, feats, events_pd, feats_pd):
    tol = 3 * 86400.0
    out = asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], tolerance_sec=tol)
    _check_against_oracle(out, events_pd, feats_pd, tolerance=tol)


def test_asof_exact_match_included(spark):
    # exact-timestamp feature must match (allow_exact_matches semantics)
    lt = spark.createDataFrame(
        pd.DataFrame({"user_id": [1], "ts": [pd.Timestamp("2026-01-02")], "event_id": [0]})
    )
    rt = spark.createDataFrame(
        pd.DataFrame(
            {"user_id": [1, 1], "feature_ts": [pd.Timestamp("2026-01-02"), pd.Timestamp("2026-01-01")],
             "fval": [2.0, 1.0]}
        )
    )
    out = asof_join(lt, rt, on="user_id", left_ts="ts", right_ts="feature_ts").collect()
    assert out[0]["fval"] == 2.0


def test_lag_lead(events, events_pd):
    out = lag_lead(events, "user_id", "ts", "value", lags=(1, 2), leads=(1,))
    got = out.select("event_id", "value_lag1", "value_lag2", "value_lead1").toPandas()
    got = got.sort_values("event_id", ignore_index=True)
    g = events_pd.sort_values(["user_id", "ts"], kind="stable").groupby("user_id")["value"]
    exp = events_pd.sort_values(["user_id", "ts"], kind="stable").assign(
        l1=g.shift(1), l2=g.shift(2), f1=g.shift(-1)
    ).sort_values("event_id", ignore_index=True)
    for a, b in [("value_lag1", "l1"), ("value_lag2", "l2"), ("value_lead1", "f1")]:
        assert np.allclose(got[a].to_numpy(), exp[b].to_numpy(), equal_nan=True)


def test_fill_forward(spark):
    pdf = pd.DataFrame(
        {
            "u": [1, 1, 1, 1, 2, 2],
            "t": pd.to_datetime(
                ["2026-01-01", "2026-01-02", "2026-01-03", "2026-01-04", "2026-01-01", "2026-01-02"]
            ),
            "v": [1.0, None, None, 4.0, None, 5.0],
        }
    )
    out = fill_forward(spark.createDataFrame(pdf), "u", "t", ["v"])
    got = out.orderBy("u", "t").toPandas()["v"].tolist()
    exp = pdf.sort_values(["u", "t"]).groupby("u")["v"].ffill().tolist()
    assert got == pytest.approx(exp, nan_ok=True)


def test_sessionize(events, events_pd):
    gap = 6 * 3600.0
    out = sessionize(events, "user_id", "ts", gap_sec=gap)
    got = out.select("event_id", "session_id").toPandas().sort_values("event_id", ignore_index=True)
    e = events_pd.sort_values(["user_id", "ts"], kind="stable")
    gaps = e.groupby("user_id")["ts"].diff().dt.total_seconds()
    boundary = gaps.isna() | (gaps > gap)
    exp = e.assign(sid=boundary.groupby(e["user_id"]).cumsum() - 1).sort_values(
        "event_id", ignore_index=True
    )
    assert got["session_id"].tolist() == exp["sid"].astype(int).tolist()


def test_asof_skew_entity(spark, feats, feats_pd):
    # hot entity: 500 probe rows on one user — salted and unsalted agree
    # (salt_threshold=100 forces the hot path for this key)
    probe = pd.DataFrame(
        {
            "event_id": np.arange(500),
            "user_id": np.zeros(500, dtype=np.int64),
            "ts": pd.Timestamp("2026-01-01") + pd.to_timedelta(np.arange(500) * 97, unit="m"),
        }
    )
    lt = spark.createDataFrame(probe)
    a = asof_join(lt, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                  value_cols=["fval"]).toPandas().sort_values("event_id", ignore_index=True)
    b = asof_join(lt, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                  value_cols=["fval"], salt_buckets=8, salt_threshold=100).toPandas(
    ).sort_values("event_id", ignore_index=True)
    assert np.allclose(a["fval"].to_numpy(), b["fval"].to_numpy(), equal_nan=True)
    exp = _oracle_asof(probe, feats_pd)
    assert np.allclose(a["fval"].to_numpy(), exp["fval"].to_numpy(), equal_nan=True)


def test_asof_salt_mixed_hot_cold(spark, feats, feats_pd):
    # hot user 0 (300 rows) + cold users 1..5 (3 rows each): the salted
    # plan must replicate features only for the hot key and still match
    # the pandas oracle on every row
    hot = pd.DataFrame(
        {
            "event_id": np.arange(300),
            "user_id": np.zeros(300, dtype=np.int64),
            "ts": pd.Timestamp("2026-01-01") + pd.to_timedelta(np.arange(300) * 131, unit="m"),
        }
    )
    cold = pd.DataFrame(
        {
            "event_id": 300 + np.arange(15),
            "user_id": np.repeat(np.arange(1, 6), 3),
            "ts": pd.Timestamp("2026-01-10") + pd.to_timedelta(np.arange(15) * 7, unit="h"),
        }
    )
    probe = pd.concat([hot, cold], ignore_index=True)
    lt = spark.createDataFrame(probe)
    out = asof_join(lt, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], salt_buckets=4, salt_threshold=100)
    got = out.toPandas().sort_values("event_id", ignore_index=True)
    exp = _oracle_asof(probe, feats_pd)
    assert len(got) == len(exp)
    assert np.allclose(got["fval"].to_numpy(), exp["fval"].to_numpy(), equal_nan=True)


def test_asof_broadcast_strategy(events, feats, events_pd, feats_pd):
    out = asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], strategy="broadcast")
    _check_against_oracle(out, events_pd, feats_pd)


def test_asof_broadcast_tolerance(events, feats, events_pd, feats_pd):
    tol = 3 * 86400.0
    out = asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], strategy="broadcast", tolerance_sec=tol)
    _check_against_oracle(out, events_pd, feats_pd, tolerance=tol)


def test_asof_broadcast_null_feature_ts_ignored(spark):
    """A feature row whose ts is NULL has no point-in-time meaning:
    every strategy, and the k-table join, ignores it.  Event 0 comes
    before user 1's only real feature row, so it stays unmatched even
    though user 1 also has a NULL-ts row (the union spine would sort
    that row first and fill 99.0 forward with no matched ts;
    ``pandas.merge_asof`` raises on a NULL key; the broadcast kernel's
    sorted key array would be corrupted)."""
    import pyspark.sql.functions as F

    from torchestra_spark.operators.temporal import asof_join_multi

    lt = spark.createDataFrame(
        [(0, 1, "2024-01-01 00:00:00"), (1, 1, "2024-01-05 00:00:00"),
         (2, 2, "2024-01-05 00:00:00")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rt = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", 10.0), (1, None, 99.0),
         (2, "2024-01-03 00:00:00", 20.0)],
        "user_id long, feature_ts string, fval double",
    ).withColumn("feature_ts", F.to_timestamp("feature_ts"))
    expected = {0: (None, None), 1: (10.0, "2024-01-02"), 2: (20.0, "2024-01-03")}

    def got(rows, value, matched):
        return {
            r["event_id"]: (r[value], None if r[matched] is None else str(r[matched])[:10])
            for r in rows
        }

    for strategy in ("union", "broadcast", "merge_asof"):
        out = asof_join(lt, rt, on="user_id", left_ts="ts", right_ts="feature_ts",
                        value_cols=["fval"], strategy=strategy).collect()
        assert got(out, "fval", "matched_feature_ts") == expected, strategy
    tables = [
        dict(name=f"t{k}", df=rt.withColumnRenamed("fval", f"v{k}"), ts="feature_ts")
        for k in range(3)
    ]
    for strategy in ("union", "broadcast"):
        out = asof_join_multi(lt, tables, on="user_id", left_ts="ts", strategy=strategy).collect()
        for k in range(3):
            assert got(out, f"v{k}", f"t{k}_matched_ts") == expected, (strategy, k)


def _nan_tag(v):
    """``collect()`` value with NaN made comparable (NaN != NaN)."""
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


@pytest.mark.parametrize(
    "strategy", ["union", "salted", "broadcast", "merge_asof", "multi_union", "multi_broadcast"]
)
def test_asof_exact_bigint_and_null_entity(spark, strategy):
    """Every strategy agrees exactly on two one-partition probe batches,
    read with ``collect()`` so NaN and NULL stay apart.  (a) Entities
    2**60 and 2**60+1 (one apart, above 2**53) and a NULL entity against
    a bigint value column that holds a NULL: values come back exact,
    each entity gets its own history, and a NULL entity never matches —
    not even a NULL-entity feature row (SQL ``=``).  (b) A matched NaN
    comes back NaN and a matched NULL comes back NULL, a probe-side
    bigint above 2**53 comes back exact also when its entity's rows hold
    a NULL in that column, and a probe row before its entity's first
    feature row is unmatched.  (c) Under a 570 ms tolerance, a feature
    row exactly 570 ms older than its probe (2023-11-14 22:13:20.9 UTC)
    matches and one a microsecond older does not: every strategy tests
    tolerance in whole microseconds.  (d) The same under a 1.001 s
    tolerance, whose double product with 10**6 lies just below
    1,001,000."""
    import pyspark.sql.functions as F

    from torchestra_spark.operators.temporal import asof_join_multi

    B, nan, T = 2**60, float("nan"), 1_700_000_000.9
    t = datetime.datetime.fromtimestamp  # how collect() renders a ts
    cases = [
        (  # (a): probe (eid, user_id, ts, big), features (user_id, feature_ts, fval, bval)
            [(0, B, 100, None), (1, B + 1, 100, None), (2, None, 100, None)],
            [(B, 10, 10, B + 7), (B + 1, 10, 20, None), (None, 10, 30, 5)],
            "int",
            None,
            {0: (10, B + 7, t(10), None), 1: (20, None, t(10), None), 2: (None, None, None, None)},
        ),
        (  # (b)
            [(1, B + 1, 10, 7), (2, B, 10, None), (3, B + 1, 0, 8), (4, 5, 5, 9), (5, B, 20, B + 3)],
            [(B + 1, 5, nan, B + 7), (B, 1, 1.5, None), (B, 15, 2.5, 4), (5, 5, None, 1),
             (None, 1, 9.0, 9)],
            "double",
            None,
            {1: (nan, B + 7, t(5), 7), 2: (1.5, None, t(1), None), 3: (None, None, None, 8),
             4: (None, 1, t(5), 9), 5: (2.5, 4, t(15), B + 3)},
        ),
        (  # (c)
            [(1, 1, T, None), (2, 2, T, None)],
            [(1, 1_700_000_000.33, 1, 10), (2, 1_700_000_000.329999, 2, 20)],
            "int",
            0.57,
            {1: (1, 10, t(1_700_000_000.33), None), 2: (None, None, None, None)},
        ),
        (  # (d)
            [(1, 1, T, None), (2, 2, T, None)],
            [(1, 1_699_999_999.899, 1, 10), (2, 1_699_999_999.898999, 2, 20)],
            "int",
            1.001,
            {1: (1, 10, t(1_699_999_999.899), None), 2: (None, None, None, None)},
        ),
    ]
    kw = dict(on="user_id", left_ts="ts")

    def micros(rows, i):  # field i: ts seconds -> exact epoch microseconds
        return [(*r[:i], round(r[i] * 10**6), *r[i + 1:]) for r in rows]

    for probe, feats, fval_type, tol, expected in cases:
        lt = spark.createDataFrame(
            micros(probe, 2), "eid long, user_id long, ts long, big long"
        ).withColumn("ts", F.timestamp_micros("ts")).coalesce(1)
        rt = spark.createDataFrame(
            micros(feats, 1), f"user_id long, feature_ts long, fval {fval_type}, bval long"
        ).withColumn("feature_ts", F.timestamp_micros("feature_ts")).coalesce(1)
        if strategy.startswith("multi_"):
            tables = [
                dict(name=f"t{k}", df=rt.select("user_id", "feature_ts", F.col("fval").alias(f"f{k}"),
                                                F.col("bval").alias(f"b{k}")), ts="feature_ts",
                     tolerance_sec=tol)
                for k in range(3)
            ]
            out = asof_join_multi(lt, tables, strategy=strategy[len("multi_"):], **kw).collect()
            cols = [(f"f{k}", f"b{k}", f"t{k}_matched_ts") for k in range(3)]
        else:
            opts = (
                dict(strategy="union", salt_buckets=4, salt_threshold=1)
                if strategy == "salted"
                else dict(strategy=strategy)
            )
            out = asof_join(lt, rt, right_ts="feature_ts", tolerance_sec=tol, **kw, **opts).collect()
            cols = [("fval", "bval", "matched_feature_ts")]
        want = {e: tuple(map(_nan_tag, v)) for e, v in expected.items()}
        for f, b, m in cols:
            got = {r["eid"]: tuple(map(_nan_tag, (r[f], r[b], r[m], r["big"]))) for r in out}
            assert got == want, (strategy, f)


@pytest.mark.parametrize("strategy", ["union", "broadcast", "merge_asof"])
def test_asof_non_nullable_values_under_non_utc_session(spark, strategy):
    """A feature table whose value columns are declared NOT NULL (derived
    from ``spark.range``) still gives an unmatched probe row NULL in
    them: the output declares them nullable and ``isNull`` sees it.
    Under a session time zone other than UTC, a TIMESTAMP probe column
    and a TIMESTAMP value column come back as the same instants."""
    import pyspark.sql.functions as F

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        lt = spark.createDataFrame(
            [(1, 1, 10), (2, 1, 0), (3, 9, 10)], "eid long, user_id long, ts long"
        ).withColumn("ts", F.timestamp_seconds("ts"))
        rt = spark.range(1).select(
            F.lit(1).cast("long").alias("user_id"),
            F.timestamp_seconds(F.lit(5)).alias("feature_ts"),
            (F.col("id") * 0.5 + 1.5).alias("fval"),
            F.timestamp_seconds(F.col("id") + 3).alias("tval"),
        )
        assert not rt.schema["fval"].nullable and not rt.schema["tval"].nullable
        out = asof_join(lt, rt, on="user_id", left_ts="ts", right_ts="feature_ts", strategy=strategy)
        assert out.schema["fval"].nullable and out.schema["tval"].nullable
        rows = out.select(
            "eid", "fval", F.col("fval").isNull().alias("miss"), "tval", "matched_feature_ts", "ts"
        ).orderBy("eid").collect()
    finally:
        spark.conf.set(key, prev)
    t = datetime.datetime.fromtimestamp
    assert [tuple(r) for r in rows] == [
        (1, 1.5, False, t(3), t(5), t(10)),
        (2, None, True, None, None, t(0)),
        (3, None, True, None, None, t(10)),
    ]


def test_asof_broadcast_pre_epoch_matched_ts(spark):
    """r8 review: a matched feature ts BEFORE 1970 is a real match —
    the unmatched sentinel must not blank it (old sentinel was -1 µs)."""
    import pyspark.sql.functions as F

    lt = spark.createDataFrame(
        [(1, "1980-01-01 00:00:00"), (2, "1980-01-01 00:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rt = spark.createDataFrame(
        [(1, "1969-12-31 23:59:59", 7.0)],
        "user_id long, feature_ts string, fval double",
    ).withColumn("feature_ts", F.to_timestamp("feature_ts"))
    out = asof_join(lt, rt, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], strategy="broadcast").toPandas()
    r1 = out[out["user_id"] == 1].iloc[0]
    r2 = out[out["user_id"] == 2].iloc[0]
    assert r1["fval"] == 7.0 and str(r1["matched_feature_ts"]).startswith("1969-12-31")
    assert pd.isna(r2["fval"]) and pd.isna(r2["matched_feature_ts"])


def test_interval_join(spark):
    from torchestra_spark.operators.temporal import interval_join

    dims = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "valid_from": pd.to_datetime(["2026-01-01", "2026-02-01", "2026-01-15"]),
            "valid_to": pd.to_datetime(["2026-02-01", "2026-03-01", "2026-02-15"]),
            "plan": ["free", "pro", "free"],
        }
    )
    probes = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3, 4],
            "user_id": [1, 1, 1, 2, 2],
            "ts": pd.to_datetime(
                ["2026-01-10", "2026-02-01", "2026-03-05", "2026-01-20", "2026-01-01"]
            ),
        }
    )
    out = interval_join(
        spark.createDataFrame(probes), spark.createDataFrame(dims),
        on="user_id", left_ts="ts", valid_from="valid_from", valid_to="valid_to",
        value_cols=["plan"],
    )
    got = {r["event_id"]: r["plan"] for r in out.collect()}
    # boundary ts=2026-02-01 falls in the NEW era (>= from, < to)
    assert got == {0: "free", 1: "pro", 2: None, 3: "free", 4: None}


def test_asof_null_feature_value_not_skipped(spark):
    """A feature row whose value is SQL NULL must still win the as-of
    match (pandas merge_asof semantics): probe rows at/after it get
    (NULL value, its matched_ts) — not a stale older value."""
    left = spark.createDataFrame(
        pd.DataFrame({"user_id": [1], "ts": [pd.Timestamp("2024-01-03")]})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 1],
                "feature_ts": [pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-02")],
                "fval": [10.0, None],
            }
        )
    )
    for strategy in ("union", "merge_asof", "broadcast"):
        out = asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="feature_ts",
            value_cols=["fval"], strategy=strategy,
        ).collect()
        assert len(out) == 1, strategy
        row = out[0]
        assert row["fval"] is None, f"{strategy}: NULL feature value was skipped"
        assert str(row["matched_feature_ts"]).startswith("2024-01-02"), strategy


def _dirty_asof_corpus(seed):
    """Probe rows and three feature tables of dirty input: timestamps
    on both sides of the epoch on a shared minute grid (exact
    probe==feature ties, some planted), NULL feature values, NULL
    feature ts, probe entities with no history and feature entities
    with no probe rows."""
    rng = np.random.RandomState(seed)
    n_e, n_p, n_f = 12, 300, 80
    base = pd.Timestamp("1969-12-28")  # the 10000-minute span crosses 1970
    probe = pd.DataFrame(
        {
            "event_id": np.arange(n_p),
            "user_id": rng.randint(0, n_e, n_p),
            "ts": base + pd.to_timedelta(rng.randint(0, 10000, n_p) * 60, unit="s"),
        }
    )
    tables = []
    for k in range(3):
        f = pd.DataFrame(
            {
                # entities 0..7 and 20..21: 8..11 have empty histories,
                # 20..21 never probe
                "user_id": np.where(rng.rand(n_f) < 0.1, rng.randint(20, 22, n_f),
                                    rng.randint(0, 8, n_f)),
                "feature_ts": base + pd.to_timedelta(rng.randint(0, 10000, n_f) * 60, unit="s"),
                f"v{k}": np.where(rng.rand(n_f) < 0.15, np.nan, rng.randn(n_f)),
            }
        )
        ties = probe.sample(10, random_state=seed * 3 + k)
        f = pd.concat(
            [f, pd.DataFrame({"user_id": ties["user_id"].to_numpy(),
                              "feature_ts": ties["ts"].to_numpy(),
                              f"v{k}": rng.randn(10)})],
            ignore_index=True,
        )
        f.loc[rng.rand(len(f)) < 0.1, "feature_ts"] = pd.NaT
        # dedupe (entity, ts) among the timed rows: at equal ts
        # merge_asof picks the last physical row while the engine's tie
        # order is unspecified — dedupe makes the oracle unambiguous
        timed = f["feature_ts"].notna()
        f = pd.concat([f[timed].drop_duplicates(["user_id", "feature_ts"], keep="last"),
                       f[~timed]], ignore_index=True)
        tables.append(f)
    return probe, tables


def _merge_asof_oracle(probe, f):
    """pandas merge_asof after dropping the NULL-ts feature rows."""
    return pd.merge_asof(
        probe.sort_values("ts", kind="stable"),
        f.dropna(subset=["feature_ts"]).sort_values("feature_ts", kind="stable"),
        left_on="ts", right_on="feature_ts", by="user_id", direction="backward",
    ).sort_values("event_id", ignore_index=True)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_asof_randomized_vs_merge_asof(spark, seed):
    """Dirty input (NULL feature ts and values, exact ties, pre-epoch
    times, unknown entities, and each side empty in turn) vs pandas
    merge_asof, across every strategy — union, salted union with a low
    threshold, broadcast, merge_asof — for k=1 (``asof_join``) and k=3
    (``asof_join_multi``)."""
    from torchestra_spark.operators.temporal import asof_join_multi

    probe, tables = _dirty_asof_corpus(seed)
    lt = spark.createDataFrame(probe, "event_id long, user_id long, ts timestamp")
    rts = [spark.createDataFrame(f, f"user_id long, feature_ts timestamp, v{k} double")
           for k, f in enumerate(tables)]
    cases = {"dirty": (probe, tables, lt, rts)}
    if seed == 0:  # the empty-side cases do not depend on the seed
        cases["empty features"] = (probe, [f.iloc[:0] for f in tables], lt,
                                   [rt.limit(0) for rt in rts])
        cases["empty probe"] = (probe.iloc[:0], tables, lt.limit(0), rts)
    strategies = {
        "union": dict(strategy="union"),
        "salted": dict(strategy="union", salt_buckets=4, salt_threshold=3),
        "broadcast": dict(strategy="broadcast"),
        "merge_asof": dict(strategy="merge_asof"),
    }
    for case, (p, tabs, lt, rts) in cases.items():
        exps = [_merge_asof_oracle(p, f) for f in tabs]
        runs = []  # (label, [(table index, matched-ts column)], output)
        for name, kw in strategies.items():
            out = asof_join(lt, rts[0], on="user_id", left_ts="ts", right_ts="feature_ts",
                            value_cols=["v0"], **kw)
            runs.append((f"{case}/k=1/{name}", [(0, "matched_feature_ts")], out))
            if name != "merge_asof":
                out = asof_join_multi(
                    lt, [dict(name=f"t{k}", df=rt, ts="feature_ts") for k, rt in enumerate(rts)],
                    on="user_id", left_ts="ts", **kw,
                )
                runs.append((f"{case}/k=3/{name}", [(k, f"t{k}_matched_ts") for k in range(3)], out))
        for label, checks, out in runs:
            got = out.toPandas().sort_values("event_id", ignore_index=True)
            assert got["event_id"].tolist() == p["event_id"].sort_values().tolist(), label
            for k, matched in checks:
                exp = exps[k]
                assert np.allclose(got[f"v{k}"].to_numpy(dtype=float),
                                   exp[f"v{k}"].to_numpy(dtype=float), equal_nan=True), (label, k)
                gm, em = pd.to_datetime(got[matched]), exp["feature_ts"]
                assert gm.isna().equals(em.isna()), (label, k)
                assert (gm.dropna().to_numpy() == em.dropna().to_numpy()).all(), (label, k)


def test_rolling_stats_vs_numpy(spark, events, events_pd):
    """Trailing 6h range-window mean/count vs a brute-force O(n^2) numpy
    oracle with the same inclusive-boundary semantics."""
    from torchestra_spark.operators.temporal import rolling_stats

    win = 6 * 3600.0
    out = rolling_stats(events, "user_id", "ts", "value", win, stats=("mean", "count"))
    got = (
        out.select("event_id", f"value_roll_mean_{int(win)}s", f"value_roll_count_{int(win)}s")
        .toPandas().sort_values("event_id", ignore_index=True)
    )
    e = events_pd
    sec = e["ts"].astype("int64").to_numpy() / 1e9
    uid = e["user_id"].to_numpy()
    val = e["value"].to_numpy()
    means = np.empty(len(e)); counts = np.empty(len(e), dtype=np.int64)
    for i in range(len(e)):
        m = (uid == uid[i]) & (sec >= sec[i] - win) & (sec <= sec[i])
        means[i] = np.nanmean(val[m]) if np.isfinite(val[m]).any() else np.nan
        counts[i] = np.isfinite(val[m]).sum()
    exp = e.assign(m=means, c=counts).sort_values("event_id", ignore_index=True)
    assert (got[f"value_roll_count_{int(win)}s"].to_numpy() == exp["c"].to_numpy()).all()
    assert np.allclose(
        got[f"value_roll_mean_{int(win)}s"].to_numpy(), exp["m"].to_numpy(), equal_nan=True
    )


def test_asof_broadcast_empty_feature_table(spark, events, events_pd):
    """Empty broadcast side: every probe row unmatched (all-NULL fval),
    no IndexError from gathering into zero-length arrays."""
    empty = spark.createDataFrame(
        [], schema="user_id bigint, feature_ts timestamp, fval double"
    )
    out = asof_join(events, empty, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], strategy="broadcast").toPandas()
    assert len(out) == len(events_pd)
    assert out["fval"].isna().all()


def test_hot_key_detection_sampled_and_exact(spark):
    """The sampled hot-key pre-pass (threshold >= 10k) must always
    catch a 2x-threshold key and never salt a cold one; below the
    sampling threshold counting is exact (r3 verdict item 7)."""
    from torchestra_spark.operators.temporal import _hot_keys

    rows = [("hot",)] * 20_000 + [("cold",)] * 200
    df = spark.createDataFrame(rows, "user_id string").repartition(8)
    # sampled path: threshold 10_000 -> fraction 0.05, cutoff 250
    keys = _hot_keys(df, "user_id", 10_000)
    assert "hot" in keys and "cold" not in keys
    # exact path: threshold 250 (< sampling min) counts every row
    keys2 = _hot_keys(df, "user_id", 250)
    assert "hot" in keys2 and "cold" not in keys2
    # exact path boundary: a key AT the threshold is hot (>=)
    keys3 = _hot_keys(df, "user_id", 200)
    assert sorted(keys3) == ["cold", "hot"]
