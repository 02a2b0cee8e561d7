"""Checkpointed writer: idempotent bucketed writes, manifest-driven
resume, lineage fingerprints, per-bucket metrics."""

import json
import math
import os

import pytest
from pyspark.sql import DataFrameWriter

from torchestra_spark.checkpoint import CheckpointedWriter, input_fingerprint


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


def test_full_write_and_load(spark, events, tmp_path):
    path = str(tmp_path / "out")
    w = CheckpointedWriter(path, key_col="user_id", n_buckets=8, wave_size=3)
    status = w.run(events)
    assert status.is_complete
    assert len(w.metrics()) == 8
    assert sum(m["rows"] for m in w.metrics()) == events.count()
    back = w.load(spark)
    assert back.count() == events.count()
    assert sorted(back.columns) == sorted(events.columns)


def test_resume_skips_completed(spark, events, tmp_path):
    path = str(tmp_path / "out")
    w = CheckpointedWriter(path, key_col="user_id", n_buckets=8, wave_size=8)
    w.run(events)
    # simulate a partially-failed job: drop two manifests
    for b in (2, 5):
        os.remove(os.path.join(w.manifest_dir, f"bucket-{b}.json"))
    w2 = CheckpointedWriter(path, key_col="user_id", n_buckets=8, wave_size=8)
    st = w2.status()
    assert st.remaining == [2, 5]
    st = w2.run(events)
    assert st.is_complete
    assert w2.load(spark).count() == events.count()


def test_rerun_is_noop(spark, events, tmp_path):
    path = str(tmp_path / "out")
    w = CheckpointedWriter(path, key_col="user_id", n_buckets=4, wave_size=4)
    w.run(events)
    before = {m["bucket"]: m["committed_at"] for m in w.metrics()}
    apps = {m["app_id"] for m in w.metrics()}
    w.run(events)  # nothing remaining -> no writes, manifests untouched
    after = {m["bucket"]: m["committed_at"] for m in w.metrics()}
    assert before == after and len(apps) == 1


def test_fingerprint_invalidation(spark, events, tmp_path):
    path = str(tmp_path / "out")
    fp = input_fingerprint(["/root/testdata/sf0.001/events.parquet"])
    w = CheckpointedWriter(path, key_col="user_id", n_buckets=4, fingerprint=fp)
    w.run(events)
    assert w.status().is_complete
    # same path, different input fingerprint -> manifests don't count
    w2 = CheckpointedWriter(path, key_col="user_id", n_buckets=4, fingerprint="different")
    assert w2.status().remaining == [0, 1, 2, 3]


def test_manifest_contents(spark, events, tmp_path):
    path = str(tmp_path / "out")
    w = CheckpointedWriter(path, key_col="user_id", n_buckets=2, fingerprint="abc")
    w.run(events)
    assert sorted(os.listdir(w.manifest_dir)) == ["bucket-0.json", "bucket-1.json"]
    m = json.load(open(os.path.join(w.manifest_dir, "bucket-0.json")))
    assert set(m) == {
        "bucket", "n_buckets", "bucket_fn", "rows", "bytes", "wall_ms",
        "fingerprint", "app_id", "committed_at",
    }
    assert (m["bucket"], m["n_buckets"], m["bucket_fn"]) == (0, 2, "murmur3")
    assert m["fingerprint"] == "abc"
    assert m["rows"] > 0 and m["bytes"] > 0 and m["wall_ms"] > 0
    assert m["app_id"].startswith("local-")


@pytest.mark.parametrize("wave_size,dropped", [(3, ()), (1, (2, 5))])
def test_explicit_wave_size_bounds_each_write(spark, events, tmp_path, monkeypatch, wave_size, dropped):
    path = str(tmp_path / "out")
    CheckpointedWriter(path, key_col="user_id", n_buckets=8).run(events)
    w = CheckpointedWriter(path, key_col="user_id", n_buckets=8, wave_size=wave_size)
    if dropped:
        for b in dropped:
            os.remove(os.path.join(w.manifest_dir, f"bucket-{b}.json"))
    else:
        w.clear()
    remaining = len(w.status().remaining)
    calls = []  # the job description in force at each parquet write
    real = DataFrameWriter.parquet

    def spy(self, p, *a, **kw):
        calls.append(spark.sparkContext.getLocalProperty("spark.job.description"))
        return real(self, p, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    spark.sparkContext.setJobDescription("caller job")
    try:
        assert w.run(events).is_complete
        desc_after = spark.sparkContext.getLocalProperty("spark.job.description")
    finally:
        spark.sparkContext.setJobDescription(None)
    assert len(calls) == math.ceil(remaining / wave_size)
    assert all(f"of 8 buckets to {path}" in d for d in calls)
    assert desc_after == "caller job"
    assert w.load(spark).count() == events.count()


def test_layout_guard_refuses_other_layouts(spark, events, tmp_path):
    path = str(tmp_path / "out")
    w8 = CheckpointedWriter(path, key_col="user_id", n_buckets=8)
    w8.run(events)
    with open(os.path.join(w8.manifest_dir, "bucket-0.json")) as fh:
        m = json.load(fh)
    assert (m["n_buckets"], m["bucket_fn"]) == (8, "murmur3")
    # fewer buckets over the same path: buckets 4-7 would stay on disk
    with pytest.raises(ValueError, match="n_buckets=8.*new path"):
        CheckpointedWriter(path, key_col="user_id", n_buckets=4).run(events)
    # manifests without layout fields come from the older xxhash64 layout
    for b in range(8):
        mp = os.path.join(w8.manifest_dir, f"bucket-{b}.json")
        with open(mp) as fh:
            m = json.load(fh)
        del m["n_buckets"], m["bucket_fn"]
        with open(mp, "w") as fh:
            json.dump(m, fh)
    os.remove(os.path.join(w8.manifest_dir, "bucket-3.json"))
    with pytest.raises(ValueError, match="bucket_fn=None"):
        w8.run(events)
    assert w8.status().remaining == [3]  # nothing was written


def test_clear_removes_bucket_data_with_manifests(spark, events, tmp_path):
    """A fresh run (``submit.py run`` without --resume) clears the path
    first; the clear must take the bucket directories with the
    manifests, or a rerun with fewer buckets keeps buckets 4-7 beside
    its own and load() returns duplicates."""
    path = str(tmp_path / "out")
    CheckpointedWriter(path, key_col="user_id", n_buckets=8).run(events)
    w4 = CheckpointedWriter(path, key_col="user_id", n_buckets=4)
    w4.clear()
    assert w4.run(events).is_complete
    assert sorted(d for d in os.listdir(path) if d.startswith("__ckpt_bucket=")) == [
        f"__ckpt_bucket={b}" for b in range(4)
    ]
    assert w4.load(spark).count() == events.count()


def _session_state(spark):
    return (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", None),
        spark.sparkContext.getLocalProperty("spark.job.description"),
    )


def _fails_at_execution(df, col):
    from pyspark.sql import functions as F

    return df.withColumn(col, F.when(F.col(col).isNotNull(), F.raise_error(F.lit("boom"))))


def test_failed_write_restores_session_state(spark, events, tmp_path):
    """An input that raises while the write job runs leaves the
    session's overwrite mode and job description as they were, and no
    manifest behind."""
    path = str(tmp_path / "out")
    w = CheckpointedWriter(path, key_col="user_id", n_buckets=4)
    spark.sparkContext.setJobDescription("caller job")
    try:
        before = _session_state(spark)
        with pytest.raises(Exception, match="boom"):
            w.run(_fails_at_execution(events, "event_id"))
        assert _session_state(spark) == before
    finally:
        spark.sparkContext.setJobDescription(None)
    assert w.metrics() == [] and w.status().remaining == [0, 1, 2, 3]


def test_failed_refresh_restores_session_state(spark, tmp_path):
    import pandas as pd

    from torchestra_spark.checkpoint import IncrementalMaterializer

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    spark.createDataFrame(
        pd.DataFrame({"ds": ["d1"] * 3 + ["d2"] * 2, "x": [1.0, 2, 3, 4, 5]})
    ).write.partitionBy("ds").parquet(inp)
    mat = IncrementalMaterializer(inp, outp, "ds")
    spark.sparkContext.setJobDescription("caller job")
    try:
        before = _session_state(spark)
        with pytest.raises(Exception, match="boom"):
            mat.refresh(spark, lambda df: _fails_at_execution(df, "x"))
        assert _session_state(spark) == before
    finally:
        spark.sparkContext.setJobDescription(None)
    assert not os.path.exists(mat.manifest_dir)
    assert mat.changed_partitions() == ["d1", "d2"]


@pytest.mark.parametrize(
    "values, error",
    [
        (["10:00"] * 3 + ["ok"] * 2, "needs path escaping"),
        (["a b"] * 3 + ["a_b"] * 2, "needs path escaping"),
        (["a", "a", None], "holds NULL"),
    ],
    ids=["escaped", "mangled-collision", "null"],
)
def test_incremental_materializer_rejects_unsafe_values(spark, tmp_path, values, error):
    """Spark escapes ':' in directory names (``ds=10%3A00``), so a
    filter on the name matches no row; 'a b' and 'a_b' would share one
    manifest file; a NULL lands in ``ds=__HIVE_DEFAULT_PARTITION__``,
    which no ``isin`` matches.  All are refused before any job runs."""
    import pandas as pd

    from torchestra_spark.checkpoint import IncrementalMaterializer

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    spark.createDataFrame(
        pd.DataFrame({"ds": values, "x": [float(i) for i in range(len(values))]})
    ).write.partitionBy("ds").parquet(inp)
    mat = IncrementalMaterializer(inp, outp, "ds")
    with pytest.raises(ValueError, match=error):
        mat.refresh(spark)
    with pytest.raises(ValueError, match=error):
        mat.changed_partitions()
    assert not os.path.exists(outp)


def test_incremental_materializer_feature_refresh(spark, tmp_path):
    """The feature-store daily loop: append a delta partition, merge its
    stats with the refit-safe fit_update, refresh — ONLY the new
    partition is read+written (old output files untouched), and the
    materialized table equals a from-scratch transform of the full
    input because the upstream params were frozen by the delta."""
    import pandas as pd
    import numpy as np

    from torchestra_spark import Feature, MinMaxScale, Pipeline
    from torchestra_spark.checkpoint import IncrementalMaterializer

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    rng = np.random.RandomState(6)
    d1 = pd.DataFrame({
        "ds": ["2026-01-01"] * 50 + ["2026-01-02"] * 50,
        "x": np.r_[0.0, 100.0, rng.uniform(0, 100, 98)],
    })
    spark.createDataFrame(d1).write.partitionBy("ds").parquet(inp)

    pipe = Pipeline({"xs": Feature("x", [MinMaxScale()])})
    pipe.fit(spark.read.parquet(inp))

    def tf(df):
        return pipe.transform(df).select("ds", "x", "xs")

    mat = IncrementalMaterializer(inp, outp, "ds")
    assert sorted(mat.refresh(spark, tf)) == ["2026-01-01", "2026-01-02"]
    assert mat.refresh(spark, tf) == []  # current -> no-op
    # one manifest per partition, named by its value
    assert sorted(os.listdir(mat.manifest_dir)) == [
        "part-2026-01-01.json", "part-2026-01-02.json"
    ]
    with open(os.path.join(mat.manifest_dir, "part-2026-01-01.json")) as fh:
        m = json.load(fh)
    assert set(m) == {"value", "fingerprint", "committed_at"}
    assert m["value"] == "2026-01-01"

    def part_files(base, v):
        d = os.path.join(base, f"ds={v}")
        return {f: os.stat(os.path.join(d, f)).st_mtime for f in os.listdir(d)
                if f.endswith(".parquet")}

    old1 = part_files(outp, "2026-01-01")
    old2 = part_files(outp, "2026-01-02")

    # append a delta day (inside the fitted range -> params frozen)
    d3 = pd.DataFrame({"ds": ["2026-01-03"] * 40, "x": rng.uniform(5, 95, 40)})
    spark.createDataFrame(d3).write.mode("append").partitionBy("ds").parquet(inp)
    pipe.fit_update(spark.read.parquet(inp).filter("ds = '2026-01-03'"))
    assert mat.refresh(spark, tf) == ["2026-01-03"]
    # untouched partitions keep their exact files
    assert part_files(outp, "2026-01-01") == old1
    assert part_files(outp, "2026-01-02") == old2
    # materialized view == from-scratch transform over the full input
    got = mat.load(spark).toPandas().sort_values(["ds", "x"], ignore_index=True)
    exp = tf(spark.read.parquet(inp)).toPandas().sort_values(["ds", "x"], ignore_index=True)
    assert np.allclose(got["xs"].to_numpy(), exp["xs"].to_numpy())
    assert len(got) == 140

    # in-place change of one historical partition -> only it refreshes
    d2fix = pd.DataFrame({"ds": ["2026-01-02"] * 10, "x": rng.uniform(0, 100, 10)})
    import shutil
    shutil.rmtree(os.path.join(inp, "ds=2026-01-02"))
    spark.createDataFrame(d2fix).write.mode("append").partitionBy("ds").parquet(inp)
    assert mat.changed_partitions() == ["2026-01-02"]
    assert mat.refresh(spark, tf) == ["2026-01-02"]
    assert part_files(outp, "2026-01-01") == old1
    assert mat.load(spark).count() == 100

    # a partition deleted from the input leaves the view with its
    # manifest; nothing else is rewritten
    shutil.rmtree(os.path.join(inp, "ds=2026-01-01"))
    assert mat.changed_partitions() == []
    assert mat.refresh(spark, tf) == []
    assert not os.path.exists(os.path.join(outp, "ds=2026-01-01"))
    assert sorted(os.listdir(mat.manifest_dir)) == [
        "part-2026-01-02.json", "part-2026-01-03.json"
    ]
    assert mat.load(spark).count() == spark.read.parquet(inp).count() == 50
    assert mat.refresh(spark, tf) == []


def test_snapshot_store_time_travel_and_expire(spark, tmp_path):
    """Iceberg-style log: append-only version dirs + snapshot pins.
    Time travel reproduces every committed snapshot exactly even after
    later refreshes rewrite a partition; expire removes only versions
    no retained snapshot pins."""
    import os
    import pandas as pd

    from torchestra_spark.checkpoint import SnapshotStore

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    d1 = pd.DataFrame({"ds": ["d1"] * 3 + ["d2"] * 3, "x": [1.0, 2, 3, 4, 5, 6]})
    spark.createDataFrame(d1).write.partitionBy("ds").parquet(inp)

    st = SnapshotStore(inp, outp, "ds")
    assert st.refresh(spark) == ["d1", "d2"]          # snapshot 0
    assert st.refresh(spark) == []                    # unchanged: no commit
    assert os.listdir(st.snap_dir) == ["v000000.json"]
    with open(os.path.join(st.snap_dir, "v000000.json")) as fh:
        s0 = json.load(fh)
    assert set(s0) == {
        "id", "parent", "committed_at", "refreshed", "removed", "pins", "fingerprints"
    }
    assert (s0["id"], s0["parent"], s0["refreshed"], s0["removed"]) == (0, None, ["d1", "d2"], [])
    assert s0["pins"] == {"d1": 0, "d2": 0} and set(s0["fingerprints"]) == {"d1", "d2"}
    v0 = st.load(spark).groupBy("ds").sum("x").collect()
    v0 = {r["ds"]: r["sum(x)"] for r in v0}
    assert v0 == {"d1": 6.0, "d2": 15.0}

    # rewrite partition d2 in the input -> snapshot 1 pins d2@1, d1@0
    spark.createDataFrame(
        pd.DataFrame({"ds": ["d2"] * 2, "x": [100.0, 200.0]})
    ).write.mode("overwrite").parquet(os.path.join(inp, "ds=d2"))
    assert st.refresh(spark) == ["d2"]
    cur = {r["ds"]: r["sum(x)"] for r in st.load(spark).groupBy("ds").sum("x").collect()}
    assert cur == {"d1": 6.0, "d2": 300.0}
    # time travel: snapshot 0 still reads the ORIGINAL d2
    old = {r["ds"]: r["sum(x)"] for r in st.load(spark, 0).groupBy("ds").sum("x").collect()}
    assert old == {"d1": 6.0, "d2": 15.0}

    # expire to the latest snapshot: d2@0 files removed, d1@0 kept
    removed = st.expire(keep_last=1)
    assert removed == ["ds=d2/ver=0"]
    cur2 = {r["ds"]: r["sum(x)"] for r in st.load(spark).groupBy("ds").sum("x").collect()}
    assert cur2 == cur
    import pytest as _pt
    with _pt.raises(ValueError):
        st.load(spark, 0)  # expired snapshot is gone

    # in-flight refresh protection: a ver dir NEWER than the last
    # committed snapshot (written but not yet committed) must survive
    # an expire that does real work (snapshot 2 makes snapshot 1 drop)
    import shutil as _sh

    import pandas as _pd
    spark.createDataFrame(
        _pd.DataFrame({"ds": ["d2"] * 2, "x": [7.0, 8.0]})
    ).write.mode("overwrite").parquet(os.path.join(inp, "ds=d2"))
    assert st.refresh(spark) == ["d2"]                # snapshot 2
    inflight = os.path.join(outp, "ds=d1", "ver=99")
    os.makedirs(inflight)
    removed2 = st.expire(keep_last=1)
    assert "ds=d2/ver=1" in removed2
    assert os.path.isdir(inflight)
    _sh.rmtree(inflight)


def test_snapshot_store_retry_and_removed_partitions(spark, tmp_path):
    import os
    import shutil
    import pandas as pd
    import pytest as _pt

    from torchestra_spark.checkpoint import SnapshotStore

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    d1 = pd.DataFrame({"ds": ["d1"] * 2 + ["d2"] * 2, "x": [1.0, 2, 3, 4]})
    spark.createDataFrame(d1).write.partitionBy("ds").parquet(inp)
    st = SnapshotStore(inp, outp, "ds")
    assert st.refresh(spark) == ["d1", "d2"]

    # simulate a crash between data write and snapshot commit: leftover
    # uncommitted ver=1 data must NOT be double-counted by the retry
    spark.createDataFrame(
        pd.DataFrame({"ds": ["d2"], "x": [99.0]})
    ).write.mode("overwrite").parquet(os.path.join(inp, "ds=d2"))
    os.makedirs(os.path.join(outp, "ds=d2", "ver=1"), exist_ok=True)
    spark.createDataFrame(pd.DataFrame({"x": [99.0]})).write.mode("overwrite").parquet(
        os.path.join(outp, "ds=d2", "ver=1")
    )
    assert st.refresh(spark) == ["d2"]  # the "retry"
    cur = {r["ds"]: r["sum(x)"] for r in st.load(spark).groupBy("ds").sum("x").collect()}
    assert cur == {"d1": 3.0, "d2": 99.0}  # exactly one copy

    # deleting an input partition unpins it in the NEXT snapshot while
    # older snapshots still time-travel to it
    shutil.rmtree(os.path.join(inp, "ds=d1"))
    assert st.refresh(spark) == []  # nothing rewritten...
    assert st.current()["removed"] == ["d1"]
    assert {r["ds"] for r in st.load(spark).select("ds").distinct().collect()} == {"d2"}
    assert {r["ds"] for r in st.load(spark, 1).select("ds").distinct().collect()} == {"d1", "d2"}

    # unsafe partition values are rejected up front
    spark.createDataFrame(pd.DataFrame({"ds": ["bad value"], "x": [1.0]})).write.mode(
        "append"
    ).partitionBy("ds").parquet(inp)
    with _pt.raises(ValueError, match="escaping"):
        st.refresh(spark)


def test_submit_run_job_fresh_resume_rebucket(spark, tmp_path, capsys):
    """``submit.py run`` end to end: a fresh run, a --resume of the
    complete output (a no-op), and a fresh run with fewer buckets,
    which must not leave the old layout's buckets beside its own."""
    import argparse

    import numpy as np
    import pandas as pd

    from torchestra_spark.submit import run_job

    rng = np.random.RandomState(14)
    n = 400
    ev = pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "user_id": rng.randint(0, 64, n).astype("int64"),
        "ts": pd.Timestamp("2026-01-01") + pd.to_timedelta(rng.randint(0, 86400 * 7, n), unit="s"),
    })
    ft = pd.DataFrame({
        "user_id": rng.randint(0, 64, 200).astype("int64"),
        "feature_ts": pd.Timestamp("2026-01-01")
        + pd.to_timedelta(rng.randint(0, 86400 * 7, 200), unit="s"),
        "value": rng.normal(size=200),
    })
    ev_path, ft_path = str(tmp_path / "events"), str(tmp_path / "features")
    spark.createDataFrame(ev).write.parquet(ev_path)
    spark.createDataFrame(ft).write.parquet(ft_path)
    out = str(tmp_path / "out")

    def run(buckets, resume):
        run_job(argparse.Namespace(
            events=ev_path, features=ft_path, out=out, entity="user_id", ts="ts",
            feature_ts="feature_ts", value_col="value", session_gap=6 * 3600.0,
            salt_buckets=1, buckets=buckets, wave_size=None, resume=resume,
            fingerprint=True,
        ))
        return capsys.readouterr().out

    def buckets_on_disk():
        return sorted(d for d in os.listdir(out) if d.startswith("__ckpt_bucket="))

    def mtimes():
        files = ["_state.json"] + [
            os.path.join("_manifest", f) for f in os.listdir(os.path.join(out, "_manifest"))
        ]
        return {f: os.stat(os.path.join(out, f)).st_mtime_ns for f in files}

    assert "complete=True buckets=8" in run(8, resume=False)
    assert sorted(os.listdir(os.path.join(out, "_manifest"))) == sorted(
        f"bucket-{b}.json" for b in range(8)
    )
    assert os.path.isfile(os.path.join(out, "_state.json"))
    w8 = CheckpointedWriter(out, key_col="user_id", n_buckets=8)
    assert w8.load(spark).count() == n

    before = mtimes()
    assert "already complete" in run(8, resume=True)
    assert mtimes() == before

    assert "complete=True buckets=4" in run(4, resume=False)
    assert buckets_on_disk() == [f"__ckpt_bucket={b}" for b in range(4)]
    assert CheckpointedWriter(out, key_col="user_id", n_buckets=4).load(spark).count() == n
