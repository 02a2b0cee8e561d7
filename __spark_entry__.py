"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Queries are built on torchestra_spark (see SURVEY.md §2 for the
operator inventory being covered).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from torchestra_spark.operators.sequences import (  # noqa: E402
    SparseLen,
    SparseMapSequences,
    SparseTrunc,
    SparseTruncPad,
)
from torchestra_spark.operators.temporal import (  # noqa: E402
    asof_join,
    fill_forward,
    lag_lead,
    sessionize,
)
from torchestra_spark import (  # noqa: E402
    Clamp,
    CountLookup,
    Feature,
    IndexLookup,
    IntCountLookup,
    IntIndexLookup,
    IntRatioLookup,
    MeanScale,
    MinMaxScale,
    MinThreshold,
    NanToNum,
    Pipeline,
    RatioLookup,
    RobustScale,
    StandardScore,
    TDigestDistribution,
    TopK,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _purchase_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature side derived from events: latest purchase value per user
    (deduped per (user, ts) for deterministic as-of semantics)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("feature_ts"))
        .agg(F.max("value").alias("fval"))
    )


# --------------------------------------------------------------------- entry
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-time feature vector over events at sf0.001 —
    as-of join of each event against the user's latest prior purchase,
    lag/sessionize window features, fitted StandardScore on value and
    vocabulary index on event_type (north-rule core in one query)."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    feats = _purchase_features(spark, sf_dir)
    pit = asof_join(ev, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"])
    pit = lag_lead(pit, "user_id", ["ts", "event_id"], "value", lags=(1,))
    pit = sessionize(pit, "user_id", ["ts", "event_id"], gap_sec=6 * 3600.0)
    pipe = Pipeline(
        {
            "value_z": Feature("value", [StandardScore(), NanToNum(), Clamp(-4.0, 4.0)]),
            "etype_idx": Feature("event_type", [IndexLookup()]),
        }
    )
    out = pipe.fit_transform(pit)
    return out.select(
        "event_id", "user_id", "ts", "fval", "matched_feature_ts",
        "value_lag1", "session_id", "value_z", "etype_idx",
    )


# ------------------------------------------------------------------- queries
def _q_standard_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pipe = Pipeline({"price_z": Feature("l_extendedprice", [StandardScore()])})
    out = pipe.fit_transform(li)
    return out.select(
        "l_orderkey", "l_linenumber", F.round(F.col("price_z"), 6).alias("price_z")
    )


def _q_standard_score_ddof0(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pipe = Pipeline({"value_z": Feature("value", [StandardScore(ddof=0)])})
    out = pipe.fit_transform(ev)
    return out.select("event_id", F.round(F.col("value_z"), 6).alias("value_z"))


def _q_ratio_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-input pipeline feature: per-row price/quantity ratio fused
    by a Ratio head, then z-scored by a StandardScore FIT OVER THE
    COMPOSED EXPRESSION — the reference's Parallel(into=tuple) +
    TupleAsArgs multi-arg module shape (_pipes.py:107-149, 306-336)."""
    from torchestra_spark import Ratio

    li = _t(spark, sf_dir, "lineitem")
    pipe = Pipeline(
        {"ratio_z": Feature(["l_extendedprice", "l_quantity"], [Ratio(), StandardScore()])}
    )
    out = pipe.fit_transform(li)
    return out.select(
        "l_orderkey", "l_linenumber", F.round(F.col("ratio_z"), 6).alias("ratio_z")
    )


def _q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pipe = Pipeline({"value_mm": Feature("value", [MinMaxScale()])})
    out = pipe.fit_transform(ev)
    return out.select("event_id", F.round(F.col("value_mm"), 6).alias("value_mm"))


def _q_mean_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pipe = Pipeline({"qty_ms": Feature("l_quantity", [MeanScale()])})
    out = pipe.fit_transform(li)
    return out.select(
        "l_orderkey", "l_linenumber", F.round(F.col("qty_ms"), 6).alias("qty_ms")
    )


def _q_stacked_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``MeanScale.stack`` parity (_normalization.py:72-88):
    three MeanScales fitted on separate lineitem columns in ONE
    Pipeline — the planner batches same-wave scalar fits into a single
    ``df.agg`` (one scan for all three, plans/pipeline.py:148) —
    packaged via ``MeanScale.stack`` into ONE array->array module whose
    per-element (offset, divisor) pairs are plan-time constants: a
    single whole-stage-codegen projection, no UDF.  Output is
    scalarized to named double columns (the driver's canonicalizer
    sorts rows in pandas and cannot sort list cells)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    pipe = Pipeline({f"y{i}": Feature(c, [MeanScale()]) for i, c in enumerate(cols)})
    pipe.fit(li)  # ONE shared-scan agg job fits all three scalers
    stacked = MeanScale.stack([pipe.features[f"y{i}"].ops[0] for i in range(len(cols))])
    arr = stacked.expr(F.array(*[F.col(c).cast("double") for c in cols]))
    # + 0.0 folds IEEE -0.0 to +0.0 on both engines (DuckDB's ROUND
    # keeps the sign of a tiny negative quotient, Spark's drops it)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        *[
            (F.round(F.element_at(arr, i + 1), 6) + F.lit(0.0)).alias(f"stacked_{i}")
            for i in range(len(cols))
        ],
    )


def _q_clamp_nan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pipe = Pipeline(
        {"price_c": Feature("l_extendedprice", [StandardScore(), NanToNum(), Clamp(-1.0, 1.0)])}
    )
    out = pipe.fit_transform(li)
    return out.select(
        "l_orderkey", "l_linenumber", F.round(F.col("price_c"), 6).alias("price_c")
    )


def _q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact mode: Spark's percentile aggregate (linear interpolation) is
    # definitionally identical to DuckDB quantile_cont -> SQL-oracled.
    # The t-digest sketch mode keeps its pytest atol-vs-np.quantile
    # goldens (tests/test_scalers.py) and the tdigest_cdf driver query.
    li = _t(spark, sf_dir, "lineitem")
    pipe = Pipeline({"price_r": Feature("l_extendedprice", [RobustScale(exact=True)])})
    out = pipe.fit_transform(li)
    return out.select("l_orderkey", "l_linenumber", F.round("price_r", 6).alias("price_r"))


def _q_tdigest_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # t-digest cdf (QuantileBin): the sketch's documented tolerance
    # (|cdf(x) - exact pct rank| <= 1e-2, tests/test_scalers.py) turned
    # into a CHECKED invariant — the query returns the count of rows
    # violating it, the oracle expects exactly 0, so the row hashes.
    # Exact rank = pandas rank(pct=True): (min rank + (ties-1)/2) / n,
    # computed WITHOUT a partition-less window (r5): range-bucket by
    # value (approx-percentile splitters — they only move bucket
    # boundaries, never the result), rank within each bucket, add
    # driver-collected bucket offsets (<= nb+1 rows) — the same
    # two-phase global-order pattern as pack_blocks.
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    pipe = Pipeline({"value_q": Feature("value", [TDigestDistribution()])})
    out = pipe.fit_transform(ev)
    nb = 32
    splits = out.agg(
        F.percentile_approx("value", [i / nb for i in range(1, nb)], 10_000)
    ).first()[0]
    arr = F.array(*[F.lit(float(s)) for s in splits])
    # bucket = #splitters <= value: pure function of the value, so tie
    # groups never straddle buckets and in-bucket min-rank + offset is
    # the exact global min-rank
    bucket = F.aggregate(
        arr, F.lit(0), lambda a, s: a + F.when(s <= F.col("value"), 1).otherwise(0)
    )
    b = out.withColumn("__b", bucket)
    sizes = {
        r["__b"]: r["n"]
        for r in b.groupBy("__b").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(sizes.values())
    offs, acc = {}, 0
    for kb in sorted(sizes):
        offs[kb] = acc
        acc += sizes[kb]
    off_map = F.create_map(*[x for kb, v in offs.items() for x in (F.lit(kb), F.lit(v))])
    rank_min = F.rank().over(Window.partitionBy("__b").orderBy("value")) + off_map[F.col("__b")]
    ties = F.count(F.lit(1)).over(Window.partitionBy("value"))
    pct = (rank_min + (ties - F.lit(1)) / 2.0) / F.lit(float(n_total))
    viol = b.select(((F.abs(F.col("value_q") - pct)) > 0.01).cast("long").alias("__v"))
    return viol.agg(F.sum("__v").alias("violations"))


def _q_fit_update_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental refit: fit on even order keys, fit_update on odd —
    # min/max and vocabulary counters merge EXACTLY, so the transform
    # over the full table oracles against a plain full-fit SQL
    od = _t(spark, sf_dir, "orders")
    even = od.filter(F.col("o_orderkey") % 2 == 0)
    odd = od.filter(F.col("o_orderkey") % 2 == 1)
    pipe = Pipeline(
        {
            "price_mm": Feature("o_totalprice", [MinMaxScale()]),
            "prio_cnt": Feature("o_orderpriority", [CountLookup()]),
        }
    )
    pipe.fit(even).fit_update(odd)
    out = pipe.transform(od)
    return out.select(
        "o_orderkey", F.round("price_mm", 6).alias("price_mm"), "prio_cnt"
    )


def _q_fused_lookups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # three fitted lookups applied in ONE pandas UDF / one Arrow
    # crossing (operator stacking on the transform side)
    from torchestra_spark.operators.lookups import fused_lookups

    od = _t(spark, sf_dir, "orders")
    c, r, ix = CountLookup(), RatioLookup(), IndexLookup()
    pipe = Pipeline(
        {
            "prio_cnt": Feature("o_orderpriority", [c]),
            "status_ratio": Feature("o_orderstatus", [r]),
            "prio_idx": Feature("o_orderpriority", [ix]),
        }
    )
    pipe.fit(od)
    out = fused_lookups(
        od,
        {
            "prio_cnt": (c, "o_orderpriority"),
            "status_ratio": (r, "o_orderstatus"),
            "prio_idx": (ix, "o_orderpriority"),
        },
    )
    return out.select(
        "o_orderkey", "prio_cnt", F.round("status_ratio", 9).alias("status_ratio"), "prio_idx"
    )


def _q_count_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = _t(spark, sf_dir, "orders")
    pipe = Pipeline({"prio_cnt": Feature("o_orderpriority", [CountLookup()])})
    out = pipe.fit_transform(od)
    return out.select("o_orderkey", "prio_cnt")


def _q_count_lookup_min_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = _t(spark, sf_dir, "part")
    pipe = Pipeline({"brand_cnt": Feature("p_brand", [CountLookup(MinThreshold(5))])})
    out = pipe.fit_transform(pt)
    return out.select("p_partkey", "brand_cnt")


def _q_ratio_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    pipe = Pipeline({"seg_ratio": Feature("c_mktsegment", [RatioLookup()])})
    out = pipe.fit_transform(cu)
    return out.select("c_custkey", F.round(F.col("seg_ratio"), 9).alias("seg_ratio"))


def _q_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    pipe = Pipeline({"seg_idx": Feature("c_mktsegment", [IndexLookup()])})
    out = pipe.fit_transform(cu)
    return out.select("c_custkey", "seg_idx")


def _q_index_lookup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = _t(spark, sf_dir, "part")
    pipe = Pipeline({"brand_idx": Feature("p_brand", [IndexLookup(TopK(5))])})
    out = pipe.fit_transform(pt)
    return out.select("p_partkey", "brand_idx")


def _q_int_count_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pipe = Pipeline({"ln_cnt": Feature("l_linenumber", [IntCountLookup()])})
    out = pipe.fit_transform(li)
    return out.select("l_orderkey", "l_linenumber", "ln_cnt")


def _q_int_ratio_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = _t(spark, sf_dir, "part")
    pipe = Pipeline({"size_ratio": Feature("p_size", [IntRatioLookup()])})
    out = pipe.fit_transform(pt)
    return out.select("p_partkey", F.round(F.col("size_ratio"), 9).alias("size_ratio"))


def _q_int_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pt = _t(spark, sf_dir, "part")
    pipe = Pipeline({"size_idx": Feature("p_size", [IntIndexLookup()])})
    out = pipe.fit_transform(pt)
    return out.select("p_partkey", "size_idx")


def _q_pipeline_multi_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged multi-feature fit: scalers + vocab in one pipeline
    li = _t(spark, sf_dir, "lineitem")
    pipe = Pipeline(
        {
            "price_z": Feature("l_extendedprice", [StandardScore()]),
            "qty_mm": Feature("l_quantity", [MinMaxScale()]),
            "flag_idx": Feature("l_returnflag", [IndexLookup()]),
        }
    )
    out = pipe.fit_transform(li)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("price_z"), 6).alias("price_z"),
        F.round(F.col("qty_mm"), 6).alias("qty_mm"),
        "flag_idx",
    )


# ---------------------------------------------------------------- temporal
def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    feats = _purchase_features(spark, sf_dir)
    out = asof_join(ev, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"])
    return out.select(
        "event_id", "user_id", "ts",
        F.round(F.col("fval"), 6).alias("fval"),
        F.col("matched_feature_ts").alias("matched_ts"),
    )


def _q_asof_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused k-table point-in-time join: purchases AND clicks attach to
    every event in ONE union + ONE entity-partitioned window pass
    (asof_join_multi) — the probe spine shuffles once, not once per
    feature table.  Oracle = two sequential DuckDB ASOF joins."""
    from torchestra_spark.operators.temporal import asof_join_multi

    ev = _t(spark, sf_dir, "events")
    purchases = _purchase_features(spark, sf_dir)
    clicks = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("value").alias("cval"))
    )
    out = asof_join_multi(
        ev,
        [
            dict(name="p", df=purchases, ts="feature_ts", value_cols=["fval"]),
            dict(name="c", df=clicks, ts="click_ts", value_cols=["cval"]),
        ],
        on="user_id",
        left_ts="ts",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.round(F.col("fval"), 6).alias("fval"),
        F.col("p_matched_ts").alias("p_ts"),
        F.round(F.col("cval"), 6).alias("cval"),
        F.col("c_matched_ts").alias("c_ts"),
    )


def _q_serve_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FeatureStore SERVING composition under the oracle: fit on a
    history slice (even event_ids) via ``store.build``, then run
    ``store.serve_stream`` — broadcast as-of join + frozen pipeline
    transform, the exact code path live streams take — on the
    odd-event batch.  serve_stream's
    body is pure DataFrame ops, so invoking it on a batch frame
    exercises the IDENTICAL composition the stream runs (the
    `tumbling_stats` batch-parity pattern); the streaming execution
    itself keeps its pytest parity check (tests/test_featurestore.py).
    Oracle: DuckDB ASOF join + z-score with history-slice statistics."""
    from torchestra_spark.featurestore import FeatureStore

    ev = _t(spark, sf_dir, "events")
    history = ev.filter(F.col("event_id") % 2 == 0)
    live = ev.filter(F.col("event_id") % 2 == 1)
    feats = _purchase_features(spark, sf_dir)
    store = FeatureStore(entity="user_id", ts="ts")
    store.add_feature_table(feats, ts="feature_ts", name="purch", value_cols=["fval"])
    store.add_pipeline(Pipeline({"value_z": Feature("value", [StandardScore()])}))
    store.build(history, fit=True)  # freeze pipeline state on history
    served = store.serve_stream(live)
    return served.select(
        "event_id",
        "user_id",
        F.round(F.col("fval"), 6).alias("fval"),
        F.col("purch_matched_ts").alias("purch_ts"),
        F.round(F.col("value_z"), 6).alias("value_z"),
    )


def _q_asof_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identical semantics under skew salting; salt_threshold=50 makes
    # most entities "hot" at sf0.01 (~67 probe rows each) so the
    # engaged salted path itself is what the oracle checks
    ev = _t(spark, sf_dir, "events")
    feats = _purchase_features(spark, sf_dir)
    out = asof_join(ev, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], salt_buckets=8, salt_threshold=50)
    return out.select(
        "event_id", "user_id",
        F.round(F.col("fval"), 6).alias("fval"),
        F.col("matched_feature_ts").alias("matched_ts"),
    )


def _q_asof_join_merge_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cogrouped pandas merge_asof path — same oracle as the union path
    ev = _t(spark, sf_dir, "events")
    feats = _purchase_features(spark, sf_dir)
    out = asof_join(ev, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], strategy="merge_asof")
    return out.select(
        "event_id", "user_id",
        F.round(F.col("fval"), 6).alias("fval"),
        F.col("matched_feature_ts").alias("matched_ts"),
    )


def _q_asof_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # broadcast-history strategy (small feature side -> zero probe shuffle)
    ev = _t(spark, sf_dir, "events")
    feats = _purchase_features(spark, sf_dir)
    out = asof_join(ev, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], strategy="broadcast")
    return out.select(
        "event_id", "user_id",
        F.round(F.col("fval"), 6).alias("fval"),
        F.col("matched_feature_ts").alias("matched_ts"),
    )


def _q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    feats = _purchase_features(spark, sf_dir)
    out = asof_join(ev, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                    value_cols=["fval"], tolerance_sec=2 * 86400.0)
    return out.select(
        "event_id", F.round(F.col("fval"), 6).alias("fval"),
        F.col("matched_feature_ts").alias("matched_ts"),
    )


def _q_asof_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # north-rule gate: zero temporal leakage — count of as-of matches
    # with feature_ts > event ts must be 0 (checked across all 3
    # strategies in one query)
    ev = _t(spark, sf_dir, "events")
    feats = _purchase_features(spark, sf_dir)
    leaks = F.lit(0)
    for strat in ("union", "merge_asof", "broadcast"):
        out = asof_join(ev, feats, on="user_id", left_ts="ts", right_ts="feature_ts",
                        value_cols=["fval"], strategy=strat)
        n = out.filter(F.col("matched_feature_ts") > F.col("ts")).count()
        leaks = leaks + F.lit(n)
    return spark.range(1).select(leaks.cast("bigint").alias("leaks"))


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCD-2 / validity-window join: per-user signup "eras" derived from
    # signup events (valid until the next signup), events joined to the
    # era containing their timestamp
    from torchestra_spark.operators.temporal import interval_join
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ts_type = ev.schema["ts"].dataType
    eras = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.coalesce(
                F.lead("ts").over(
                    Window.partitionBy("user_id").orderBy("ts", "event_id")
                ),
                F.lit("9999-01-01").cast(ts_type),
            ).alias("valid_to"),
            F.col("event_id").alias("era_id"),
        )
    )
    out = interval_join(ev, eras, on="user_id", left_ts="ts",
                        valid_from="valid_from", valid_to="valid_to",
                        value_cols=["era_id"])
    return out.select("event_id", "era_id")


def _q_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def _q_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from torchestra_spark.functions.text import stopword_ratio

    doc = _t(spark, sf_dir, "documents")
    return doc.select(
        "doc_id", F.round(stopword_ratio(F.col("text"), "en"), 6).alias("sw_ratio")
    )


def _q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = lag_lead(ev, "user_id", ["ts", "event_id"], "value", lags=(1, 2), leads=(1,))
    return out.select(
        "event_id",
        F.round("value_lag1", 6).alias("value_lag1"),
        F.round("value_lag2", 6).alias("value_lag2"),
        F.round("value_lead1", 6).alias("value_lead1"),
    )


def _q_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    out = fill_forward(ev, "user_id", ["ts", "event_id"], ["purchase_value"])
    return out.select(
        "event_id", F.round("purchase_value", 6).alias("purchase_value")
    )


def _q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-group fitted normalization (train params per event_type, apply
    # to every row) — mean/std from the same var_pop*n/(n-1) formula the
    # SQL oracle uses, so values match bit-for-bit at round(6)
    from torchestra_spark.operators.scalers import GroupedStandardScore

    ev = _t(spark, sf_dir, "events")
    pipe = Pipeline({"value_gz": Feature("value", [GroupedStandardScore("event_type")])})
    out = pipe.fit_transform(ev)
    return out.select("event_id", F.round("value_gz", 6).alias("value_gz"))


def _q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trailing 6h range-frame window features (inclusive boundaries;
    # deterministic under timestamp ties) — one exchange, one frame pass
    from torchestra_spark.operators.temporal import rolling_stats

    ev = _t(spark, sf_dir, "events")
    out = rolling_stats(ev, "user_id", "ts", "value", 6 * 3600.0,
                        stats=("mean", "min", "max", "count"), suffix="")
    return out.select(
        "event_id",
        F.round("value_roll_mean", 6).alias("roll_mean"),
        F.round("value_roll_min", 6).alias("roll_min"),
        F.round("value_roll_max", 6).alias("roll_max"),
        F.col("value_roll_count").alias("roll_count"),
    )


def _q_tumbling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the STREAMING windowed-stats operator run in batch mode (new r5):
    # stream_windowed_stats is watermark + F.window tumbling aggregate;
    # withWatermark is a no-op on a batch frame, so the gate checks the
    # exact code path a stream executes (same trick as the probe-index
    # gates).  Oracle: explicit epoch-floor bucketing — origin-free, so
    # Spark's epoch-aligned windows and DuckDB agree by construction.
    from torchestra_spark.streaming import stream_windowed_stats

    ev = _t(spark, sf_dir, "events")
    out = stream_windowed_stats(ev, "user_id", "ts", "value", window_sec=6 * 3600.0)
    return out.select(
        "user_id",
        F.unix_timestamp("window_start").alias("win_epoch"),
        F.col("n").alias("n"),
        F.round("mean", 6).alias("mean"),
        F.round("min", 6).alias("vmin"),
        F.round("max", 6).alias("vmax"),
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = sessionize(ev, "user_id", ["ts", "event_id"], gap_sec=6 * 3600.0)
    return out.select("event_id", "user_id", "session_id")


# --------------------------------------------------------------- sequences
def _q_seq_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings")
    pipe = Pipeline({"seq_len": Feature("embedding", [SparseLen()])})
    return pipe.fit_transform(em).select("vec_id", "seq_len")


def _q_seq_trunc_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings")
    pipe = Pipeline(
        {"s8": Feature("embedding", [SparseTrunc(8), SparseMapSequences("sum")])}
    )
    return pipe.fit_transform(em).select("vec_id", F.round(F.col("s8"), 6).alias("s8"))


def _q_seq_trunc_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pad embeddings (len 64) to 80; checksum + length prove pad content
    em = _t(spark, sf_dir, "embeddings")
    pipe = Pipeline(
        {"padded": Feature("embedding", [SparseTruncPad(80, value=0.0, elem_type="float")])}
    )
    out = pipe.fit_transform(em)
    return out.select(
        "vec_id",
        F.size("padded").alias("pad_len"),
        F.round(
            F.aggregate("padded", F.lit(0.0), lambda a, x: a + x.cast("double")), 6
        ).alias("pad_sum"),
    )


def _q_doc_token_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # word-token view of documents: count + first-5-token string
    doc = _t(spark, sf_dir, "documents").withColumn("words", F.split("text", " "))
    pipe = Pipeline(
        {
            "n_words": Feature("words", [SparseLen()]),
            "head": Feature("words", [SparseTrunc(5)]),
        }
    )
    out = pipe.fit_transform(doc)
    return out.select(
        "doc_id", "n_words", F.array_join("head", " ").alias("head5")
    )


def _q_tokenized_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # input_hint table end-to-end: synthesize, truncate/pad, reduce,
    # normalize (rows-only check; exact-equality goldens in pytest)
    from torchestra_spark.io.sources import tokenized_sequences

    toks = tokenized_sequences(spark, 2000, seed=42, partitions=8)
    pipe = Pipeline(
        {
            "padded": Feature("tokens", [SparseTruncPad(32, value=0, elem_type="int")]),
            "tok_sum": Feature("tokens", [SparseMapSequences("sum")]),
            "tok_sum_z": Feature("tok_sum", [StandardScore()]),
            "src_idx": Feature("source", [IndexLookup()]),
        }
    )
    out = pipe.fit_transform(toks)
    # the padded array is serialized to (len, checksum) — the driver's
    # canonicalizer sorts columns and can't hash raw array cells
    return out.select(
        "doc_id",
        "n_tok",
        F.size("padded").alias("pad_len"),
        F.aggregate("padded", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("pad_sum"),
        F.round("tok_sum_z", 6).alias("tok_sum_z"),
        "src_idx",
    )


# --------------------------------------------------- text / dedup / sim
def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from torchestra_spark.functions.text import bpe_ish_token_count, token_count

    doc = _t(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def _q_punct_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from torchestra_spark.functions.text import mean_word_len, punct_ratio

    doc = _t(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(mean_word_len(F.col("text")), 6).alias("mean_word_len"),
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from torchestra_spark.functions.text import lang_id

    doc = _t(spark, sf_dir, "documents")
    return doc.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def _q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style duplicate-3-gram fraction (boilerplate signal)
    from torchestra_spark.functions.text import repetition_ratio

    doc = _t(spark, sf_dir, "documents")
    return doc.select("doc_id", F.round(repetition_ratio(F.col("text"), 3), 6).alias("rep3"))


def _q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # composite Gopher-rule keep/drop gate — pure Catalyst predicate.
    # The synthetic corpus is clean prose, so deterministic doc_id-keyed
    # perturbations inject each §A1.1 failure mode (numeric words,
    # trailing ellipsis, symbol runs, bullet lines) to exercise every
    # threshold; the oracle applies the identical perturbation in SQL.
    from torchestra_spark.functions.text import gopher_filter

    doc = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = (
        F.when(d % 13 == 0, F.concat(F.col("text"), F.lit(" "), F.repeat(F.lit("12345 "), 30)))
        .when(d % 11 == 0, F.concat(F.col("text"), F.lit(" ...")))
        .when(d % 7 == 0, F.concat(F.col("text"), F.lit(" #####################")))
        .when(d % 5 == 0, F.concat(F.lit("- "), F.col("text")))
        .otherwise(F.col("text"))
    )
    return doc.select("doc_id", gopher_filter(t).alias("keep"))


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dataset mixing + train/val/test split: per-source Bernoulli keep
    # + cumulative-threshold split, both from the counter-based
    # splitmix64 uniform — bit-exactly replayed by the HUGEINT SQL
    # oracle (partition-invariant, rerun-stable by construction)
    from torchestra_spark.functions.sampling import mixture_sample, split_assign

    doc = _t(spark, sf_dir, "documents")
    kept = mixture_sample(
        doc, "doc_id", "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25}, seed=7,
        default_rate=0.1, method="splitmix64",
    )
    return kept.select(
        "doc_id", "source",
        split_assign(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1},
                     seed=7, method="splitmix64"),
    )


def _q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4-rule document gate (braces / lorem ipsum / giant tokens / min
    # words) — pure Catalyst predicate over the documents table
    from torchestra_spark.functions.text import c4_doc_filter

    doc = _t(spark, sf_dir, "documents")
    return doc.select("doc_id", c4_doc_filter(F.col("text")).alias("keep"))


def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the end-to-end curation flagship: Gopher + C4 quality gates ->
    # winnow near-dup graph -> connected components -> drop
    # non-canonical members -> per-source mixture sampling ->
    # train/val/test split.  Every stage is a previously-oracled piece;
    # the composite is replayed start-to-finish in ONE SQL statement.
    from torchestra_spark.functions.dedup import dedup_clusters, winnow_near_dups
    from torchestra_spark.functions.sampling import mixture_sample, split_assign
    from torchestra_spark.functions.text import c4_doc_filter, gopher_filter

    doc = _t(spark, sf_dir, "documents")
    filt = doc.filter(gopher_filter(F.col("text")) & c4_doc_filter(F.col("text")))
    pairs = winnow_near_dups(filt, "text", "doc_id", k=5, w=4, min_shared=2, max_fp_freq=1000)
    dups = dedup_clusters(pairs).filter(F.col("id") != F.col("cluster_id"))
    kept = filt.join(dups.select(F.col("id").alias("doc_id")), "doc_id", "left_anti")
    sampled = mixture_sample(
        kept, "doc_id", "source", {"src0": 1.0, "src1": 0.5}, seed=11,
        default_rate=0.6, method="splitmix64",
    )
    return sampled.select(
        "doc_id", "source",
        split_assign(F.col("doc_id"), {"train": 0.9, "val": 0.05, "test": 0.05},
                     seed=11, method="splitmix64"),
    )


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # composite heuristic: rows-only (component ratios oracle-checked
    # separately; exact goldens in tests/test_text_dedup.py)
    from torchestra_spark.functions.text import quality_score

    doc = _t(spark, sf_dir, "documents")
    return doc.select("doc_id", F.round(quality_score(F.col("text")), 6).alias("quality"))


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from torchestra_spark.functions.dedup import exact_dedup

    doc = _t(spark, sf_dir, "documents")
    return exact_dedup(doc, "text", "doc_id").select("doc_id")


def _q_mark_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from torchestra_spark.functions.dedup import mark_exact_dups

    doc = _t(spark, sf_dir, "documents")
    return mark_exact_dups(doc, "text", "doc_id").select(
        "doc_id", "canonical_id", "is_duplicate"
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact bigram jaccard between consecutive doc pairs
    from torchestra_spark.functions.dedup import ngram_jaccard

    doc = _t(spark, sf_dir, "documents")
    a = doc.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = doc.select((F.col("doc_id") - 1).alias("id_a"), F.col("text").alias("tb"))
    pairs = a.join(b, "id_a")
    return pairs.select(
        "id_a", F.round(ngram_jaccard(F.col("ta"), F.col("tb"), 2), 6).alias("jaccard")
    )


def _q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # winnowing (SIGMOD'03) document fingerprints: rolling k-gram hash
    # + per-window min selection, all in WINNOW_MOD modular arithmetic
    # so the DuckDB oracle replays the sketch bit-for-bit
    from torchestra_spark.functions.text import winnow_fingerprints

    doc = _t(spark, sf_dir, "documents")
    return doc.select(
        "doc_id", F.explode(winnow_fingerprints(F.col("text"), k=5, w=4)).alias("fp")
    )


def _q_winnow_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fingerprint-blocked near-dup pairs: any >= w+k-1 = 8-token shared
    # run is guaranteed to share a fingerprint; pairs sharing >= 2
    from torchestra_spark.functions.dedup import winnow_near_dups

    doc = _t(spark, sf_dir, "documents")
    out = winnow_near_dups(doc, "text", "doc_id", k=5, w=4, min_shared=2, max_fp_freq=1000)
    return out.select("id_a", "id_b", "shared", F.round("overlap", 6).alias("overlap"))


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # connected components over the winnow near-dup graph: iterative
    # hash-min label propagation (one shuffle per round), exact vs the
    # recursive-SQL min-reachable-id oracle
    from torchestra_spark.functions.dedup import dedup_clusters, winnow_near_dups

    doc = _t(spark, sf_dir, "documents")
    pairs = winnow_near_dups(doc, "text", "doc_id", k=5, w=4, min_shared=2, max_fp_freq=1000)
    return dedup_clusters(pairs).select(F.col("id").alias("doc_id"), "cluster_id")


def _q_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vocabulary-free categorical encoding (hashing trick) in its
    # SQL-replayable poly31 configuration; xxhash64 is the JVM default
    from torchestra_spark.operators.lookups import HashBucket

    doc = _t(spark, sf_dir, "documents")
    hb = HashBucket(n_buckets=1024, seed=5, method="poly31")
    return doc.select("doc_id", hb.expr(F.col("source")).alias("src_bucket"))


def _q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end cleaned corpus: winnow near-dup graph -> connected
    # components -> drop every non-canonical member
    from torchestra_spark.functions.dedup import dedup_clusters, winnow_near_dups

    doc = _t(spark, sf_dir, "documents")
    pairs = winnow_near_dups(doc, "text", "doc_id", k=5, w=4, min_shared=2, max_fp_freq=1000)
    dups = dedup_clusters(pairs).filter(F.col("id") != F.col("cluster_id"))
    return doc.join(
        dups.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id")


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # production keep policy (new r5): per near-dup cluster keep the
    # LONGEST document (n_chars DESC, doc_id ASC tie) instead of the
    # min id; singletons always survive.  Oracle: recursive-CTE
    # components + per-cluster ROW_NUMBER pick + singleton union
    from torchestra_spark.functions.dedup import dedup_keep_best, winnow_near_dups

    doc = _t(spark, sf_dir, "documents")
    pairs = winnow_near_dups(doc, "text", "doc_id", k=5, w=4, min_shared=2, max_fp_freq=1000)
    return dedup_keep_best(doc, pairs, "doc_id", "n_chars").select("doc_id")


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # minhash+LSH candidates + exact-Jaccard verify: output is exactly
    # {pairs: bigram jaccard >= 0.8} (LSH miss prob at r=4/bands=32 is
    # ~5e-8 at j=0.8 and ~1e-30 at the corpus's actual 0.97+ dups), so
    # it oracles against all-pairs DuckDB SQL; r=4 keeps candidates
    # j^4-sparse so the verify stage stays subquadratic at scale
    from torchestra_spark.functions.dedup import minhash_dedup_verified

    doc = _t(spark, sf_dir, "documents")
    out = minhash_dedup_verified(
        doc, "text", "doc_id", k=128, bands=32, shingle_n=2, threshold=0.8
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GPT-style concat-then-chunk packing of the input_hint corpus into
    # 128-token training blocks (order-preserving 8-way bucketed
    # prefix sum); per-block checksums hash-checked against the SQL
    # oracle's ROW_NUMBER chunking of the regenerated token stream
    from torchestra_spark.operators.sequences import pack_sequences
    from torchestra_spark.io.sources import tokenized_sequences

    toks = tokenized_sequences(spark, 2000, seed=42, partitions=8)
    # no explicit bucket: exercises the auto-derived range bucket (the
    # r4 scale-safe default) — output is bucket-invariant, so the SQL
    # oracle is unchanged
    blocks = pack_sequences(toks, "tokens", "doc_id", block_len=128)
    return blocks.select(
        "block_id",
        "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("tok_sum"),
        F.element_at("tokens", 1).cast("long").alias("tok_head"),
        F.element_at("tokens", -1).cast("long").alias("tok_tail"),
    )


def _q_simhash_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token-id simhash over the input_hint table: integer-exact
    # splitmix64 hashing makes the WHOLE sketch SQL-reproducible —
    # per-doc 64-bit signatures value-checked bit-for-bit
    from torchestra_spark.functions.dedup import simhash_tokens
    from torchestra_spark.io.sources import tokenized_sequences

    toks = tokenized_sequences(spark, 2000, seed=42, partitions=8)
    return simhash_tokens(toks, "tokens", "doc_id")


def _q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # text simhash near-dups: since r5 the word hash is the winnow
    # polynomial fold + splitmix64 (both SQL-replayable), so this path
    # finally has a DuckDB twin — the last no_oracle row (r4 verdict #3)
    from torchestra_spark.functions.dedup import simhash_near_dups

    doc = _t(spark, sf_dir, "documents")
    out = simhash_near_dups(doc, "text", "doc_id", max_hamming=8, prefix_bits=8)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _q_simhash_tokens_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the rotation-blocking + hamming-join path over token-id sketches:
    # splitmix64 end-to-end, so the WHOLE near-dup pipeline (blocking
    # recall included) is bit-exactly SQL-oracled
    from torchestra_spark.functions.dedup import simhash_tokens_near_dups
    from torchestra_spark.io.sources import tokenized_sequences

    toks = tokenized_sequences(spark, 2000, seed=42, partitions=8)
    out = simhash_tokens_near_dups(
        toks, "tokens", "doc_id", max_hamming=8, prefix_bits=16, tables=4,
        max_bucket_size=1000,
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-vector symmetric int8 quantization: scale, sum of quantized
    # codes, and max reconstruction error (bounded by scale/2) — the
    # shuffle-byte reducer for ANN candidate stages, SQL-replayed
    from torchestra_spark.functions.similarity import dequantize_int8, quantize_int8

    em = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qed = em.select("vec_id", v.alias("v"), quantize_int8(v).alias("qs"))
    return qed.select(
        "vec_id",
        F.round(F.col("qs.scale"), 6).alias("scale"),
        F.aggregate(F.col("qs.q"), F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.round(
            F.array_max(
                F.zip_with(
                    F.col("v"), dequantize_int8(F.col("qs")), lambda x, y: F.abs(x - y)
                )
            ),
            6,
        ).alias("max_err"),
    )


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from torchestra_spark.functions.similarity import brute_force_topk

    em = _t(spark, sf_dir, "embeddings")
    q = em.orderBy("vec_id").first()["embedding"]
    out = brute_force_topk(em, "embedding", q, k=20)
    return out.select("vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def _q_exact_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact batch-KNN (r7): 3 query vectors answered in
    ONE corpus pass — broadcast query matrix, per-Arrow-batch matmul +
    local top-k, q-partitioned window for the global top-k
    (similarity.exact_knn_batch, the recall harness's ground-truth
    engine promoted to a first-class operator).  Oracle: per-query
    DuckDB cosine ranking."""
    import numpy as np

    from torchestra_spark.functions.similarity import exact_knn_batch

    em = _t(spark, sf_dir, "embeddings")
    Q = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in em.orderBy("vec_id").limit(3).collect()]
    )
    out = exact_knn_batch(em, "embedding", "vec_id", Q, k=10)
    return out.select(
        "q", "vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"), "rank"
    )


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH-bucketed ANN in its recall-1.0 configuration (n_probes covers
    # all 2^4 buckets), so the result IS brute-force top-k and oracles
    # against the exact cosine SQL; partial-probe recall behavior is
    # covered by pytest (tests/test_text_dedup.py)
    from torchestra_spark.functions.similarity import ann_topk

    em = _t(spark, sf_dir, "embeddings")
    q = em.orderBy("vec_id").first()["embedding"]
    out = ann_topk(em, "embedding", q, k=10, n_planes=4, n_probes=16)
    return out.select("vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF ANN: k-means coarse quantizer trained on a sample, probe the
    # nearest cells, exact cosine re-rank (rows-only; exact-neighbor
    # assertion in pytest)
    from torchestra_spark.functions.similarity import ivf_topk, train_ivf_centroids

    em = _t(spark, sf_dir, "embeddings")
    C = train_ivf_centroids(em, "embedding", n_centroids=8, sample=2000, seed=3, order_col="vec_id")
    q = em.orderBy("vec_id").first()["embedding"]
    # n_probes == n_centroids probes every cell -> exact top-k, oracled
    # against brute-force cosine SQL; cell-pruned recall is pytest-covered
    out = ivf_topk(em, "embedding", q, C, k=10, n_probes=8)
    return out.select("vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def _q_ivf_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the IVF SERVING path: encoded table stored partitioned by cell,
    # probes prune at the scan (PartitionFilters, no assign UDF at
    # query time — plan asserted in tests/test_plan_quality.py); at
    # n_probes == n_centroids the result is exact brute-force top-k,
    # oracled against cosine SQL
    import os
    import tempfile

    from torchestra_spark.functions.similarity import (
        ivf_assign,
        ivf_topk_stored,
        train_ivf_centroids,
    )
    from torchestra_spark.io.sources import read_partitioned, write_partitioned

    em = _t(spark, sf_dir, "embeddings")
    C = train_ivf_centroids(em, "embedding", n_centroids=8, sample=2000, seed=3, order_col="vec_id")
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"ts_ivfstore_{tag}")
    write_partitioned(ivf_assign(em, "embedding", C), path, ["ivf_cell"])
    stored = read_partitioned(spark, path)
    q = em.orderBy("vec_id").first()["embedding"]
    out = ivf_topk_stored(stored, "embedding", q, C, k=10, n_probes=8)
    return out.select("vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # binary payload -> feature plumbing (rows-only; deterministic fake
    # decoder — real codec is the documented stub)
    from torchestra_spark.functions.multimodal import attach_media_metadata, decode_features

    doc = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    df = attach_media_metadata(doc, kind="image", fmt="raw")
    out = decode_features(df, n_features=16)
    return out.select("doc_id", F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 4).alias("feat_sum"))


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # product quantization in its recall-1.0 correctness configuration:
    # iters=0 + ks >= corpus makes every codebook centroid an exact copy
    # of a data subvector, so the ADC distance equals exact squared L2
    # and oracles against SQL; lossy production configs (ks=256) are
    # covered by the pytest recall floor
    from torchestra_spark.functions.similarity import pq_encode, pq_topk, train_pq

    em = _t(spark, sf_dir, "embeddings")
    q = em.orderBy("vec_id").first()["embedding"]
    books = train_pq(em, "embedding", m=8, ks=50_000, sample=50_000, iters=0, order_col="vec_id")
    codes = pq_encode(em.select("vec_id", "embedding"), "embedding", books)
    out = pq_topk(codes, books, q, k=10)
    return out.select("vec_id", F.round("pq_dist", 6).alias("pq_dist"))


def _q_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the two-stage FAISS serving pattern under the gate: ADC shortlist
    # (100) -> broadcast semi-join -> exact squared-L2 re-rank -> top-10.
    # recall-1.0 codebooks make the shortlist provably contain the true
    # top-10, so the oracle is exact L2 top-k; the lossy-config value of
    # re-ranking is covered by the pytest recall assertions
    from torchestra_spark.functions.similarity import pq_encode, pq_rerank_topk, train_pq

    em = _t(spark, sf_dir, "embeddings")
    q = em.orderBy("vec_id").first()["embedding"]
    books = train_pq(em, "embedding", m=8, ks=50_000, sample=50_000, iters=0, order_col="vec_id")
    codes = pq_encode(em.select("vec_id", "embedding"), "embedding", books)
    out = pq_rerank_topk(codes, em, books, q, k=10, shortlist=100)
    return out.select("vec_id", F.round("dist", 6).alias("dist"))


def _q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the int8 serving path end-to-end (new r5): quantize the corpus
    # (4-8x shuffle-byte reduction), dequantize, exact cosine top-20 —
    # the oracle replays round(x/scale)*scale and the cosine in SQL, so
    # the whole lossy-compress -> search composition is hash-checked
    from torchestra_spark.functions.similarity import cosine, dequantize_int8, quantize_int8

    em = _t(spark, sf_dir, "embeddings")
    q = em.orderBy("vec_id").first()["embedding"]
    deq = em.select(
        "vec_id", dequantize_int8(quantize_int8(F.col("embedding"))).alias("dv")
    )
    qlit = F.array(*[F.lit(float(x)) for x in q])
    scored = deq.select("vec_id", cosine(F.col("dv"), qlit).alias("cos_q"))
    return (
        scored.orderBy(F.col("cos_q").desc(), F.col("vec_id").asc())
        .limit(20)
        .select("vec_id", F.round("cos_q", 6).alias("cos_q"))
    )


def _q_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-stage IVF-PQ (cell-pruned residual-ADC shortlist -> exact
    # re-rank), recall-1.0 configuration probing all cells: shortlist
    # provably contains the exact top-10, oracle = exact L2 top-k
    from torchestra_spark.functions.similarity import (
        ivfpq_encode,
        ivfpq_rerank_topk,
        train_ivfpq,
    )

    em = _t(spark, sf_dir, "embeddings")
    q = em.orderBy("vec_id").first()["embedding"]
    C, B = train_ivfpq(
        em, "embedding", n_centroids=4, m=8, ks=50_000, sample=50_000,
        iters=0, order_col="vec_id",
    )
    codes = ivfpq_encode(em.select("vec_id", "embedding"), "embedding", C, B)
    out = ivfpq_rerank_topk(codes, em, C, B, q, k=10, shortlist=100, n_probes=4)
    return out.select("vec_id", F.round("dist", 6).alias("dist"))


def _q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FAISS-style IVF-PQ composite (coarse cells + residual PQ codes)
    # in its recall-1.0 configuration: iters=0 + ks >= corpus makes
    # every residual subvector a codebook centroid (ADC == exact
    # squared L2) and probing all cells removes the IVF approximation,
    # so the oracle is exact L2 top-k; lossy production configs are
    # covered by the pytest recall floor
    from torchestra_spark.functions.similarity import (
        ivfpq_encode,
        ivfpq_topk,
        train_ivfpq,
    )

    em = _t(spark, sf_dir, "embeddings")
    q = em.orderBy("vec_id").first()["embedding"]
    C, B = train_ivfpq(
        em, "embedding", n_centroids=4, m=8, ks=50_000, sample=50_000,
        iters=0, order_col="vec_id",
    )
    codes = ivfpq_encode(em.select("vec_id", "embedding"), "embedding", C, B)
    out = ivfpq_topk(codes, C, B, q, k=10, n_probes=4)
    return out.select("vec_id", F.round("ivfpq_dist", 6).alias("ivfpq_dist"))


def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact all-pairs verification baseline (oracle-checkable); the
    # scale path is method="lsh" (multi-table hyperplane blocking),
    # pytest-covered subset-of-exact + planted-pair recall
    from torchestra_spark.functions.similarity import embedding_near_dups

    em = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dups(em, "embedding", "vec_id", threshold=0.5, method="exact")
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def _q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL codec end-to-end with a closed-form SQL oracle: synthesize a
    # constant-amplitude 16-bit PCM WAV per doc (amp = n_chars%100/100),
    # decode with the pure-numpy WAV decoder, mean-pool — the decoded
    # feature equals floor(amp*32767)/32768 exactly
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from torchestra_spark.functions.multimodal import decode_features, encode_wav

    doc = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("n_chars") % 100) / F.lit(100.0)).alias("amp"),
        (F.lit(32) + F.col("n_chars") % 17).alias("ln"),
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_wav(np.full(int(l), float(a)))
                for a, l in zip(pdf["amp"], pdf["ln"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    raw = doc.mapInPandas(enc, "doc_id bigint, payload binary")
    out = decode_features(raw, n_features=4, decoder="real")
    mean = F.aggregate("features", F.lit(0.0), lambda a, x: a + x.cast("double")) / F.lit(4.0)
    return out.select("doc_id", F.round(mean, 6).alias("amp_mean"))


def _q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The r7 stdlib PNG codec under the driver gate (the resize_bmp
    # pattern): synthesize a deterministic (h0, w0) RGB PNG per doc —
    # zlib IDAT, real container — decode it back with the pure-numpy
    # scanline unfilterer (multimodal.decode_png_pixels), emit per-image
    # dimensions + integer pixel checksum.  Every step is integer math,
    # so the SQL oracle replays the exact pixels.
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from torchestra_spark.functions.multimodal import decode_png_pixels, encode_png

    doc = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(4) + F.col("n_chars") % 5).alias("h0"),
        (F.lit(4) + F.col("n_chars") % 7).alias("w0"),
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, h0, w0 in zip(pdf["doc_id"], pdf["h0"], pdf["w0"]):
                y, x, c = np.meshgrid(
                    np.arange(int(h0)), np.arange(int(w0)), np.arange(3), indexing="ij"
                )
                px = ((int(d) * 31 + y * 7 + x * 3 + c) % 256).astype(np.uint8)
                payloads.append(encode_png(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    raw = doc.mapInPandas(enc, "doc_id bigint, payload binary")

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs, ws, cks = [], [], []
            for p in pdf["payload"]:
                px = decode_png_pixels(bytes(p))
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                cks.append(int(px.astype(np.int64).sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "h": hs, "w": ws, "checksum": cks})

    return raw.mapInPandas(dec, "doc_id bigint, h int, w int, checksum bigint")


def _q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The r7 pure-numpy BASELINE JPEG codec under the driver gate.
    # JPEG is lossy (float DCT), so no bit-exact oracle exists; instead
    # the codec contract becomes a CHECKED INVARIANT (the tdigest_cdf
    # pattern): a constant-color image round-trips within quantization
    # tolerance — measured worst-case error 3 across the color cube
    # (DC-only blocks + YCbCr rounding), checked at <= 4.  The query
    # synthesizes one constant-color (h0, w0) JPEG per doc (color and
    # dims derived from n_chars/doc_id), decodes it with
    # jpeg.decode_jpeg_pixels, and returns the TOTAL violation count
    # plus a decoded-dimension checksum; the oracle pins both.
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from torchestra_spark.functions.jpeg import decode_jpeg_pixels, encode_jpeg

    doc = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(8) + F.col("n_chars") % 9).alias("h0"),
        (F.lit(8) + F.col("n_chars") % 13).alias("w0"),
        (F.col("doc_id") * 37 % 256).alias("r"),
        (F.col("doc_id") * 59 % 256).alias("g"),
        (F.col("doc_id") * 83 % 256).alias("b"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            viol, dims = [], []
            for d, h0, w0, r, g, b in zip(
                pdf["doc_id"], pdf["h0"], pdf["w0"], pdf["r"], pdf["g"], pdf["b"]
            ):
                px = np.empty((int(h0), int(w0), 3), dtype=np.uint8)
                px[..., 0], px[..., 1], px[..., 2] = int(r), int(g), int(b)
                dec = decode_jpeg_pixels(encode_jpeg(px))
                err = np.abs(dec.astype(np.int64) - px.astype(np.int64))
                viol.append(int((err > 4).sum()) + int(dec.shape != px.shape) * 10**6)
                dims.append(int(dec.shape[0] * 1000 + dec.shape[1]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "violations": viol, "dims": dims})

    out = doc.mapInPandas(run, "doc_id bigint, violations bigint, dims bigint")
    return out.agg(
        F.sum("violations").alias("violations"),
        F.sum("dims").alias("dims_checksum"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _q_frame_sample_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The r7 video-container path under the driver gate: synthesize a
    # deterministic uncompressed AVI per doc (3-6 position-patterned
    # frames), demux + sample every 2nd frame with the chunk-skip seek
    # (video.decode_avi_frames — skipped frames are never decoded),
    # emit (doc, frame_idx, integer pixel checksum).  Uncompressed DIB
    # frames roundtrip bit-exactly, so the SQL oracle replays the
    # sampled frames' pixels exactly (the resize_bmp pattern, extended
    # with the frame axis).
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from torchestra_spark.functions.video import decode_avi_frames, encode_avi

    doc = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(4) + F.col("n_chars") % 3).alias("h0"),
        (F.lit(4) + F.col("n_chars") % 5).alias("w0"),
        (F.lit(3) + F.col("n_chars") % 4).alias("nf"),
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, h0, w0, nf in zip(pdf["doc_id"], pdf["h0"], pdf["w0"], pdf["nf"]):
                fi, y, x, c = np.meshgrid(
                    np.arange(int(nf)), np.arange(int(h0)), np.arange(int(w0)),
                    np.arange(3), indexing="ij",
                )
                px = ((int(d) * 31 + fi * 97 + y * 7 + x * 3 + c) % 256).astype(np.uint8)
                payloads.append(encode_avi(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    raw = doc.mapInPandas(enc, "doc_id bigint, payload binary")

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, cks = [], [], []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                fidx, frames = decode_avi_frames(bytes(p), every_n=2)
                for k in range(len(fidx)):
                    ids.append(d)
                    idxs.append(int(fidx[k]))
                    cks.append(int(frames[k].astype(np.int64).sum()))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "checksum": cks})

    return raw.mapInPandas(dec, "doc_id bigint, frame_idx int, checksum bigint")


def _q_resize_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the media WRITE path under the driver gate (r4 verdict item 4):
    # synthesize a deterministic (h0, w0) RGB BMP per doc, resize to
    # 6x5 with the real nearest-neighbor resize_bmp (decode -> integer
    # index picks -> re-encode), re-decode the resized payload, emit
    # per-image dimensions + pixel checksum.  Every step is integer
    # math, so the SQL oracle replays the exact resampled pixels.
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from torchestra_spark.functions.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
        resize_bmp,
    )

    H, W = 6, 5
    doc = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(4) + F.col("n_chars") % 5).alias("h0"),
        (F.lit(4) + F.col("n_chars") % 7).alias("w0"),
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, h0, w0 in zip(pdf["doc_id"], pdf["h0"], pdf["w0"]):
                y, x, c = np.meshgrid(
                    np.arange(int(h0)), np.arange(int(w0)), np.arange(3), indexing="ij"
                )
                px = ((int(d) * 31 + y * 7 + x * 3 + c) % 256).astype(np.uint8)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    raw = doc.mapInPandas(enc, "doc_id bigint, payload binary")
    rs = resize_bmp(raw, "payload", "doc_id", width=W, height=H)

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs, ws, cks = [], [], []
            for p in pdf["payload"]:
                px = decode_bmp_pixels(bytes(p))
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                cks.append(int(px.astype(np.int64).sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "h": hs, "w": ws, "checksum": cks})

    return rs.mapInPandas(dec, "doc_id bigint, h int, w int, checksum bigint")


# ------------------------------------------------- tokenized oracle SQL
_SM_M64 = 18446744073709551616
_SM_C1, _SM_C2, _SM_C3 = 0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB


def _sm_py(x: int) -> int:
    z = (x + _SM_C1) % _SM_M64
    z = ((z ^ (z >> 30)) * _SM_C2) % _SM_M64
    z = ((z ^ (z >> 27)) * _SM_C3) % _SM_M64
    return z ^ (z >> 31)


def _sm_mul64(a: str, b: int) -> str:
    """64-bit wrapping multiply in DuckDB: 32-bit halves via HUGEINT
    (UBIGINT errors on overflow instead of wrapping)."""
    return (
        f"CAST((((CAST({a} >> 32 AS HUGEINT) * {b} % 4294967296) * 4294967296)"
        f" + CAST({a} & 4294967295 AS HUGEINT) * {b}) % {_SM_M64} AS UBIGINT)"
    )


def _sm_cols(x: str, p: str) -> list:
    """splitmix64 as a chain of CTE columns over input expr ``x``; the
    final column {p}u is the U[0,1) uniform, {p}2-xor form is the hash."""
    return [
        (f"{p}0", f"CAST((CAST({x} AS HUGEINT) + {_SM_C1}) % {_SM_M64} AS UBIGINT)"),
        (f"{p}1", _sm_mul64(f"xor({p}0, {p}0 >> 30)", _SM_C2)),
        (f"{p}2", _sm_mul64(f"xor({p}1, {p}1 >> 27)", _SM_C3)),
        (f"{p}u", f"((xor({p}2, {p}2 >> 31) >> 11) / 9007199254740992.0)"),
    ]


def _tokenized_cte_parts(n_rows: int = 2000, seed: int = 42) -> list:
    """DuckDB SQL reproducing tokenized_sequences + the tokenized_pipeline
    BIT-EXACTLY: splitmix64 is emulated with 64-bit multiplies built from
    32-bit halves in HUGEINT (DuckDB UBIGINT errors on overflow instead
    of wrapping), uniforms/lengths/tokens follow the exact generator
    arithmetic (io/sources.py), and the pipeline aggregates (trunc-pad
    checksum, StandardScore z, IndexLookup index) are plain SQL.  The
    only non-integer step — geometric lengths via ln — agrees with
    numpy's log1p to ~1e-15 relative, a floor-flip risk of ~1e-13 per
    row; verified exact over this corpus."""
    k1 = _sm_py((seed * 1_000_003 + 1) % _SM_M64)
    k2 = _sm_py((seed * 1_000_003 + 2) % _SM_M64)
    k3 = _sm_py((seed * 1_000_003 + 3) % _SM_M64)
    sm_cols = _sm_cols

    parts = [f"WITH ids AS (SELECT range AS id FROM range(0, {n_rows}))"]
    prev = "ids"
    for col, e in sm_cols(f"xor(CAST(id AS UBIGINT), CAST({k1} AS UBIGINT))", "L"):
        parts.append(f"{col} AS (SELECT *, {e} AS {col} FROM {prev})")
        prev = col
    for col, e in sm_cols(f"xor(CAST(id AS UBIGINT), CAST({k2} AS UBIGINT))", "S"):
        parts.append(f"{col} AS (SELECT *, {e} AS {col} FROM {prev})")
        prev = col
    parts.append(
        f"""docs AS (
      SELECT id,
        CAST(LEAST(GREATEST(FLOOR(ln(1 - Lu) / ln(0.98)), 0), 512) AS BIGINT) AS len,
        CASE WHEN Su < 0.6 THEN 'web' WHEN Su < 0.8 THEN 'book'
             WHEN Su < 0.9 THEN 'code' ELSE 'wiki' END AS source
      FROM {prev})"""
    )
    parts.append("pos AS (SELECT id, len, unnest(range(0, len)) AS p FROM docs)")
    prev = "pos"
    for col, e in sm_cols(f"xor(CAST(id * 1048576 + p AS UBIGINT), CAST({k3} AS UBIGINT))", "T"):
        parts.append(f"{col} AS (SELECT *, {e} AS {col} FROM {prev})")
        prev = col
    parts.append(f"toks AS (SELECT id, p, CAST(FLOOR(Tu * 50257) AS BIGINT) AS tok FROM {prev})")
    return parts


def _tokenized_oracle_tail(parts: list) -> str:
    parts = list(parts)
    parts.append(
        """agg AS (
      SELECT d.id, d.len, d.source,
             CAST(COALESCE(SUM(t.tok), 0) AS BIGINT) AS tok_sum,
             CAST(COALESCE(SUM(CASE WHEN t.p < 32 THEN t.tok END), 0) AS BIGINT) AS pad_sum
      FROM docs d LEFT JOIN toks t ON d.id = t.id
      GROUP BY d.id, d.len, d.source)"""
    )
    parts.append(
        """st AS (
      SELECT AVG(tok_sum) AS m,
             sqrt(VAR_POP(tok_sum) * COUNT(*) / (COUNT(*) - 1)) AS s
      FROM agg)"""
    )
    parts.append(
        """idx AS (
      SELECT source AS k,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, source ASC) + 1 AS i
      FROM agg GROUP BY source)"""
    )
    return (
        parts[0]
        + ", "
        + ", ".join(parts[1:])
        + """
    SELECT 'doc' || lpad(CAST(a.id AS VARCHAR), 10, '0') AS doc_id,
           CAST(a.len AS INT) AS n_tok,
           32 AS pad_len,
           a.pad_sum AS pad_sum,
           ROUND((a.tok_sum - st.m) / st.s, 6) AS tok_sum_z,
           idx.i AS src_idx
    FROM agg a CROSS JOIN st JOIN idx ON a.source = idx.k
    """
    )


def _tokenized_oracle_sql(n_rows: int = 2000, seed: int = 42) -> str:
    return _tokenized_oracle_tail(_tokenized_cte_parts(n_rows, seed))


def _simhash_tokens_sig_parts(n_rows: int = 2000, seed: int = 42) -> list:
    """CTE chain up to per-doc uint64 simhash sketches: token hash via
    the splitmix64 CTE chain, per-(doc, bit) ±1 vote sums, bit packing.
    Ends with ``sigu (id, su UBIGINT)`` covering EVERY doc (empty docs
    sketch to 0, like the Spark kernel)."""
    parts = _tokenized_cte_parts(n_rows, seed)  # ends with the toks CTE
    prev = "toks"
    for c, e in _sm_cols("CAST(tok AS UBIGINT)", "H"):
        parts.append(f"{c} AS (SELECT *, {e} AS {c} FROM {prev})")
        prev = c
    parts.append(f"th AS (SELECT id, xor(H2, H2 >> 31) AS h FROM {prev})")
    parts.append(
        """bits AS (
      SELECT t.id, CAST(b.range AS INT) AS b,
             SUM(CASE WHEN (t.h >> CAST(b.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM th t CROSS JOIN range(64) b GROUP BY t.id, b.range)"""
    )
    parts.append(
        """sig AS (
      SELECT id,
             SUM(CASE WHEN vote > 0
                      THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT)
                      ELSE CAST(0 AS HUGEINT) END) AS s
      FROM bits GROUP BY id)"""
    )
    parts.append(
        """sigu AS (
      SELECT d.id, CAST(COALESCE(g.s, 0) AS UBIGINT) AS su
      FROM docs d LEFT JOIN sig g ON d.id = g.id)"""
    )
    return parts


def _simhash_tokens_oracle_sql(n_rows: int = 2000, seed: int = 42) -> str:
    """Token-id SimHash reproduced in SQL, with the uint64 -> int64 wrap
    Spark applies."""
    parts = _simhash_tokens_sig_parts(n_rows, seed)
    return (
        parts[0]
        + ", "
        + ", ".join(parts[1:])
        + """
    SELECT 'doc' || lpad(CAST(id AS VARCHAR), 10, '0') AS doc_id,
           CAST(CASE WHEN su >= 9223372036854775808
                     THEN CAST(su AS HUGEINT) - 18446744073709551616
                     ELSE CAST(su AS HUGEINT) END AS BIGINT) AS simhash
    FROM sigu
    """
    )


def _simhash_pairs_parts(
    n_rows: int,
    seed: int,
    prefix_bits: int,
    tables: int,
    max_bucket_size: int,
) -> list:
    """CTE chain through the FULL blocked simhash near-dup path:
    per-table left-rotation of the uint64 sketch (HUGEINT multiply —
    DuckDB << errors on overflow instead of wrapping), prefix
    bucketing, bucket self-join, distinct pairs — bit-for-bit the
    Spark ``simhash_hamming_pairs`` semantics including blocking
    recall.  Ends with ``prs (ia, ib)``; ``sigu`` stays in scope for
    the hamming filter."""
    parts = _simhash_tokens_sig_parts(n_rows, seed)
    step = 64 // max(1, tables)
    arms = []
    for t in range(tables):
        r = t * step
        if r == 0:
            rot = "su"
        else:
            rot = (
                f"CAST((CAST(su AS HUGEINT) % {1 << (64 - r)}) * {1 << r}"
                f" + (su >> {64 - r}) AS UBIGINT)"
            )
        arms.append(f"SELECT id, {t} AS tbl, ({rot}) >> {64 - prefix_bits} AS bucket FROM sigu")
    parts.append("banded AS (" + " UNION ALL ".join(arms) + ")")
    parts.append(
        f"""capped AS (
      SELECT id, tbl, bucket FROM banded
      QUALIFY COUNT(*) OVER (PARTITION BY tbl, bucket) <= {max_bucket_size})"""
    )
    parts.append(
        """prs AS (
      SELECT DISTINCT l.id AS ia, r.id AS ib
      FROM capped l JOIN capped r
        ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.id < r.id)"""
    )
    return parts


def _simhash_tokens_near_dups_oracle_sql(
    n_rows: int = 2000,
    seed: int = 42,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    tables: int = 4,
    max_bucket_size: int = 1000,
) -> str:
    parts = _simhash_pairs_parts(n_rows, seed, prefix_bits, tables, max_bucket_size)
    return (
        parts[0]
        + ", "
        + ", ".join(parts[1:])
        + f"""
    SELECT 'doc' || lpad(CAST(p.ia AS VARCHAR), 10, '0') AS id_a,
           'doc' || lpad(CAST(p.ib AS VARCHAR), 10, '0') AS id_b,
           CAST(bit_count(xor(a.su, b.su)) AS INT) AS hamming
    FROM prs p JOIN sigu a ON p.ia = a.id JOIN sigu b ON p.ib = b.id
    WHERE bit_count(xor(a.su, b.su)) <= {max_hamming}
    """
    )


def _near_dup_report_oracle_sql(
    n_rows: int = 2000,
    seed: int = 42,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    tables: int = 4,
    max_bucket_size: int = 1000,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 1000,
) -> str:
    """The fused near-dup report in SQL: the blocked simhash pair path
    AND the token-id winnowing pair path over the SAME regenerated
    corpus, full-outer-joined per (a, b) pair — exactly what
    ``dedup.near_dup_report`` computes from one corpus scan."""
    M, P = 1_000_000_007, 1_048_583
    parts = _simhash_pairs_parts(n_rows, seed, prefix_bits, tables, max_bucket_size)
    parts.append(
        f"""whs AS (
      SELECT id, list(CAST(tok AS BIGINT) % {M} ORDER BY p) AS hs
      FROM toks GROUP BY id)"""
    )
    parts.append(
        f"""wgrams AS (
      SELECT id,
        CASE WHEN len(hs) >= {k} THEN
          list_transform(range(1, len(hs)-{k}+2), i ->
            list_reduce(list_slice(hs, i, i+{k}-1), (a,b) -> (a*{P} + b) % {M}))
        ELSE CAST([] AS BIGINT[]) END gs
      FROM whs)"""
    )
    parts.append(
        f"""wfsets AS (
      SELECT id,
        CASE WHEN len(gs) = 0 THEN CAST([] AS BIGINT[])
             ELSE list_distinct(list_transform(
                    range(1, greatest(len(gs)-{w}+1, 1)+1), i ->
                    list_min(list_slice(gs, i, i+{w}-1)))) END fps
      FROM wgrams)"""
    )
    parts.append("wfps AS (SELECT id, fp FROM wfsets, unnest(fps) AS u(fp))")
    parts.append("wsizes AS (SELECT id, COUNT(*) n FROM wfps GROUP BY id)")
    parts.append(
        f"""wcapped AS (
      SELECT * FROM wfps
      QUALIFY COUNT(*) OVER (PARTITION BY fp) <= {max_fp_freq})"""
    )
    parts.append(
        f"""wpairs AS (
      SELECT l.id ia, r.id ib, COUNT(*) shared
      FROM wcapped l JOIN wcapped r ON l.fp = r.fp AND l.id < r.id
      GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared})"""
    )
    parts.append(
        """wp AS (
      SELECT p.ia, p.ib, p.shared,
             ROUND(CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared), 6) AS overlap
      FROM wpairs p JOIN wsizes sa ON sa.id = p.ia JOIN wsizes sb ON sb.id = p.ib)"""
    )
    parts.append(
        f"""sp AS (
      SELECT p.ia, p.ib, CAST(bit_count(xor(a.su, b.su)) AS INT) AS hamming
      FROM prs p JOIN sigu a ON p.ia = a.id JOIN sigu b ON p.ib = b.id
      WHERE bit_count(xor(a.su, b.su)) <= {max_hamming})"""
    )
    return (
        parts[0]
        + ", "
        + ", ".join(parts[1:])
        + """
    SELECT 'doc' || lpad(CAST(COALESCE(sp.ia, wp.ia) AS VARCHAR), 10, '0') AS id_a,
           'doc' || lpad(CAST(COALESCE(sp.ib, wp.ib) AS VARCHAR), 10, '0') AS id_b,
           sp.hamming, wp.shared, wp.overlap
    FROM sp FULL OUTER JOIN wp ON sp.ia = wp.ia AND sp.ib = wp.ib
    """
    )


def _mixture_sample_oracle_sql(seed: int = 7) -> str:
    """DuckDB SQL replaying mixture_sample + split_assign bit-exactly:
    the two salted splitmix64 uniforms via the HUGEINT chain, the rate
    CASE, and split thresholds accumulated with the SAME float
    arithmetic as sampling.split_assign."""
    k1 = _sm_py((seed * 1_000_003 + 1) % _SM_M64)  # mixture salt=1
    k2 = _sm_py((seed * 1_000_003 + 2) % _SM_M64)  # split salt=2
    parts = ["WITH d0 AS (SELECT doc_id, source FROM documents)"]
    prev = "d0"
    for p, key in (("A", k1), ("B", k2)):
        for col, e in _sm_cols(f"xor(CAST(doc_id AS UBIGINT), CAST({key} AS UBIGINT))", p):
            parts.append(f"{col} AS (SELECT *, {e} AS {col} FROM {prev})")
            prev = col
    # thresholds with split_assign's exact accumulation order
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = float(sum(weights.values()))
    acc, cases = 0.0, []
    for name, wt in list(weights.items())[:-1]:
        acc += wt / total
        cases.append(f"WHEN Bu < {acc!r} THEN '{name}'")
    case_split = " ".join(cases) + " ELSE 'test' END"
    return (
        ",\n".join(parts)
        + f"""
        SELECT doc_id, source,
               CASE {case_split} AS split
        FROM {prev}
        WHERE Au < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                    WHEN 'src2' THEN 0.25 ELSE 0.1 END)
        """
    )


def _pack_blocks_oracle_sql(n_rows: int = 2000, seed: int = 42, block_len: int = 128) -> str:
    """Concat-then-chunk over the regenerated token stream: global token
    position via ROW_NUMBER over (id, p), block = pos DIV block_len."""
    parts = _tokenized_cte_parts(n_rows, seed)
    parts.append(
        "rn AS (SELECT tok, ROW_NUMBER() OVER (ORDER BY id, p) - 1 AS gp FROM toks)"
    )
    return (
        parts[0]
        + ", "
        + ", ".join(parts[1:])
        + f"""
    SELECT CAST(gp // {block_len} AS BIGINT) AS block_id,
           CAST(COUNT(*) AS INT) AS n_tok,
           CAST(SUM(tok) AS BIGINT) AS tok_sum,
           CAST(arg_min(tok, gp) AS BIGINT) AS tok_head,
           CAST(arg_max(tok, gp) AS BIGINT) AS tok_tail
    FROM rn GROUP BY 1
    """
    )


def _corpus_curation_oracle_sql(seed: int = 11) -> str:
    """The full curation pipeline in ONE statement: quality gates ->
    winnow dedup (recursive components) -> splitmix sampling/splits,
    each fragment identical to its already-oracled standalone query."""
    k1 = _sm_py((seed * 1_000_003 + 1) % _SM_M64)
    k2 = _sm_py((seed * 1_000_003 + 2) % _SM_M64)
    weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = float(sum(weights.values()))
    acc, cases = 0.0, []
    for name, wt in list(weights.items())[:-1]:
        acc += wt / total
        cases.append(f"WHEN Bu < {acc!r} THEN '{name}'")
    case_split = " ".join(cases) + " ELSE 'test' END"
    parts = [f"""WITH RECURSIVE gates AS (
        SELECT doc_id, text, source,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS lws
        FROM documents),
    filt AS (
        SELECT doc_id, text, source FROM gates
        WHERE len(ws) >= 16 AND len(ws) <= 100000
          AND len(ws) >= 5
          AND (CASE WHEN len(ws) > 0
                    THEN list_sum(list_transform(ws, x -> length(x))) * 1.0 / len(ws)
                    ELSE 0.0 END) BETWEEN 3.0 AND 10.0
          AND len(list_filter(lws, x -> list_contains(
              ['the','and','of','to','a','in','is','it','that','for'], x))) >= 2
          AND (CASE WHEN len(lws) >= 3 THEN
                 1.0 - len(list_distinct(list_transform(range(1, len(lws) - 1), i ->
                       array_to_string(list_slice(lws, i, i + 2), ' ')))) * 1.0
                     / greatest(len(lws) - 2, 1)
               ELSE 0.0 END) < 0.2
          AND NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{{')
          AND COALESCE(list_max(list_transform(ws, x -> length(x))), 0) <= 1000
    )"""]
    parts.append(_winnow_fps_sql(5, 4, rel="filt").strip().lstrip(","))
    parts.append("""capped AS (SELECT * FROM fps
               QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 1000),
    prs AS (
      SELECT l.doc_id id_a, r.doc_id id_b
      FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    edges AS (SELECT id_a a, id_b b FROM prs UNION SELECT id_b, id_a FROM prs),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.a, rr.r FROM edges e JOIN reach rr ON e.b = rr.id),
    dups AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(r)),
    kept AS (SELECT doc_id, source FROM filt
             WHERE doc_id NOT IN (SELECT id FROM dups))""")
    sample_parts = []
    prev = "kept"
    for p, key in (("A", k1), ("B", k2)):
        for col, e in _sm_cols(f"xor(CAST(doc_id AS UBIGINT), CAST({key} AS UBIGINT))", p):
            sample_parts.append(f"{col} AS (SELECT *, {e} AS {col} FROM {prev})")
            prev = col
    return (
        ",\n".join(parts + sample_parts)
        + f"""
    SELECT doc_id, source, CASE {case_split} AS split
    FROM {prev}
    WHERE Au < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 ELSE 0.6 END)
    """
    )


def _poly_toks_sql(rel: str = "documents") -> str:
    """The shared ``toks`` CTE: per-document array of winnow polynomial
    word hashes (acc*31+ascii mod 1e9+7) — torchestra_spark.functions.
    text.token_hash over lowercase whitespace words, replayed exactly."""
    M = 1_000_000_007
    return f"""toks AS (
              SELECT doc_id,
                list_transform(
                  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''),
                  tok -> list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(regexp_split_to_array(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
                    (acc, x) -> (acc*31 + x) % {M})) hs
              FROM {rel})"""


def _simhash_text_near_dups_oracle_sql(
    max_hamming: int = 8,
    prefix_bits: int = 8,
    tables: int = 4,
    max_bucket_size: int = 1000,
    rel: str = "documents",
) -> str:
    """``simhash_near_dups`` (text path) replayed in DuckDB: winnow
    polynomial word hash -> splitmix64 spread -> per-bit ±1 vote sums ->
    64-bit signature -> multi-table rotation blocking -> bucket-capped
    self-join -> hamming filter.  Possible since r5 only because
    simhash64 hashes words with the SQL-replayable token_hash fold
    (dedup.py:simhash64) instead of xxhash64."""
    parts = [f"WITH {_poly_toks_sql(rel)}"]
    parts.append("th AS (SELECT doc_id, unnest(hs) AS h FROM toks)")
    prev = "th"
    for c, e in _sm_cols("CAST(h AS UBIGINT)", "H"):
        parts.append(f"{c} AS (SELECT *, {e} AS {c} FROM {prev})")
        prev = c
    parts.append(f"hf AS (SELECT doc_id, xor(H2, H2 >> 31) AS h64 FROM {prev})")
    parts.append(
        """bits AS (
      SELECT t.doc_id, CAST(b.range AS INT) AS b,
             SUM(CASE WHEN (t.h64 >> CAST(b.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hf t CROSS JOIN range(64) b GROUP BY t.doc_id, b.range)"""
    )
    parts.append(
        """sig AS (
      SELECT doc_id,
             SUM(CASE WHEN vote > 0
                      THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT)
                      ELSE CAST(0 AS HUGEINT) END) AS s
      FROM bits GROUP BY doc_id)"""
    )
    parts.append(
        f"""sigu AS (
      SELECT d.doc_id, CAST(COALESCE(g.s, 0) AS UBIGINT) AS su
      FROM {rel} d LEFT JOIN sig g ON d.doc_id = g.doc_id)"""
    )
    step = 64 // max(1, tables)
    arms = []
    for t in range(tables):
        r = t * step
        if r == 0:
            rot = "su"
        else:
            rot = (
                f"CAST((CAST(su AS HUGEINT) % {1 << (64 - r)}) * {1 << r}"
                f" + (su >> {64 - r}) AS UBIGINT)"
            )
        arms.append(
            f"SELECT doc_id, {t} AS tbl, ({rot}) >> {64 - prefix_bits} AS bucket FROM sigu"
        )
    parts.append("banded AS (" + " UNION ALL ".join(arms) + ")")
    parts.append(
        f"""capped AS (
      SELECT doc_id, tbl, bucket FROM banded
      QUALIFY COUNT(*) OVER (PARTITION BY tbl, bucket) <= {max_bucket_size})"""
    )
    parts.append(
        """prs AS (
      SELECT DISTINCT l.doc_id AS ia, r.doc_id AS ib
      FROM capped l JOIN capped r
        ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.doc_id < r.doc_id)"""
    )
    return (
        parts[0]
        + ", "
        + ", ".join(parts[1:])
        + f"""
    SELECT p.ia AS id_a, p.ib AS id_b,
           CAST(bit_count(xor(a.su, b.su)) AS INT) AS hamming
    FROM prs p JOIN sigu a ON p.ia = a.doc_id JOIN sigu b ON p.ib = b.doc_id
    WHERE bit_count(xor(a.su, b.su)) <= {max_hamming}
    """
    )


def _winnow_fps_sql(k: int = 5, w: int = 4, rel: str = "documents") -> str:
    """DuckDB CTE body replaying torchestra_spark.functions.text.
    winnow_fingerprints exactly: polynomial token hash (acc*31+ascii
    mod 1e9+7), seeded k-gram fold, per-w-window min, distinct."""
    M, P = 1_000_000_007, 1_048_583
    return f"""
            {_poly_toks_sql(rel)},
            grams AS (
              SELECT doc_id,
                CASE WHEN len(hs) >= {k} THEN
                  list_transform(range(1, len(hs)-{k}+2), i ->
                    list_reduce(list_slice(hs, i, i+{k}-1), (a,b) -> (a*{P} + b) % {M}))
                ELSE CAST([] AS BIGINT[]) END gs
              FROM toks),
            fsets AS (
              SELECT doc_id,
                CASE WHEN len(gs) = 0 THEN CAST([] AS BIGINT[])
                     ELSE list_distinct(list_transform(
                            range(1, greatest(len(gs)-{w}+1, 1)+1), i ->
                            list_min(list_slice(gs, i, i+{w}-1)))) END fps
              FROM grams),
            fps AS (SELECT doc_id, fp FROM fsets, unnest(fps) AS u(fp))
    """


def _near_dup_probe_oracle_sql(
    n_rows: int = 2000,
    seed: int = 42,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    tables: int = 4,
    max_bucket_size: int = 1000,
    ref_mod: int = 4,
    ref_rem: int = 1,
) -> str:
    """mark_near_dups_indexed replayed in SQL: reference banding (with
    the per-table bucket cap), probe banding, DISTINCT (probe, ref)
    pairs across tables, hamming filter, per-probe distinct-ref
    counts."""
    parts = _simhash_tokens_sig_parts(n_rows, seed)
    step = 64 // max(1, tables)

    def arms(pred: str) -> str:
        out = []
        for t in range(tables):
            r = t * step
            if r == 0:
                rot = "su"
            else:
                rot = (
                    f"CAST((CAST(su AS HUGEINT) % {1 << (64 - r)}) * {1 << r}"
                    f" + (su >> {64 - r}) AS UBIGINT)"
                )
            out.append(
                f"SELECT id, {t} AS tbl, ({rot}) >> {64 - prefix_bits} AS bucket "
                f"FROM sigu WHERE {pred}"
            )
        return " UNION ALL ".join(out)

    parts.append(f"refb AS ({arms(f'id % {ref_mod} = {ref_rem}')})")
    parts.append(
        f"""refc AS (
      SELECT id, tbl, bucket FROM refb
      QUALIFY COUNT(*) OVER (PARTITION BY tbl, bucket) <= {max_bucket_size})"""
    )
    parts.append(f"prb AS ({arms(f'id % {ref_mod} <> {ref_rem}')})")
    parts.append(
        """pairs AS (
      SELECT DISTINCT p.id AS pid, r.id AS rid
      FROM prb p JOIN refc r ON p.tbl = r.tbl AND p.bucket = r.bucket)"""
    )
    parts.append(
        f"""hits AS (
      SELECT pid, COUNT(*) AS c
      FROM pairs q JOIN sigu a ON q.pid = a.id JOIN sigu b ON q.rid = b.id
      WHERE bit_count(xor(a.su, b.su)) <= {max_hamming}
      GROUP BY pid)"""
    )
    return (
        parts[0]
        + ", "
        + ", ".join(parts[1:])
        + f"""
    SELECT 'doc' || lpad(CAST(d.id AS VARCHAR), 10, '0') AS doc_id,
           CAST(CASE WHEN s.su >= 9223372036854775808
                     THEN CAST(s.su AS HUGEINT) - 18446744073709551616
                     ELSE CAST(s.su AS HUGEINT) END AS BIGINT) AS simhash,
           CAST(COALESCE(h.c, 0) AS BIGINT) AS near_dup_matches,
           COALESCE(h.c, 0) > 0 AS is_near_dup
    FROM docs d
    JOIN sigu s ON d.id = s.id
    LEFT JOIN hits h ON d.id = h.pid
    WHERE d.id % {ref_mod} <> {ref_rem}
    """
    )


def _q_near_dup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the stateless probe-index twin of the blocked hamming join: every
    # 4th doc forms the STATIC reference index (driver-built, bucket
    # cap identical to the join path), the rest probe it shuffle-free
    # in one mapInArrow pass — same machinery runs unchanged on streams
    # (pytest batch-parity)
    from torchestra_spark.functions.dedup import (
        build_simhash_index,
        mark_near_dups_indexed,
    )
    from torchestra_spark.io.sources import tokenized_sequences

    toks = tokenized_sequences(spark, 2000, seed=42, partitions=8)
    nid = F.substring("doc_id", 4, 10).cast("long")
    ref = toks.filter(nid % 4 == 1)
    probe = toks.filter(nid % 4 != 1)
    idx = build_simhash_index(
        ref, "tokens", "doc_id", prefix_bits=16, tables=4, max_bucket_size=1000
    )
    return mark_near_dups_indexed(probe, "tokens", "doc_id", idx, max_hamming=8)


def _decontaminate_oracle_sql(
    n_rows: int = 2000,
    seed: int = 42,
    n: int = 8,
    min_hits: int = 1,
    eval_mod: int = 16,
    eval_rem: int = 3,
) -> str:
    """mark_contaminated replayed in SQL: winnow-fold n-gram hashes of
    every doc, the eval subset's distinct gram set, per-doc shared-gram
    counts via join, 0 for docs with no grams or no hits."""
    M, P = 1_000_000_007, 1_048_583
    parts = _tokenized_cte_parts(n_rows, seed)
    parts.append(
        f"""whs AS (
      SELECT id, list(CAST(tok AS BIGINT) % {M} ORDER BY p) AS hs
      FROM toks GROUP BY id)"""
    )
    parts.append(
        f"""gr AS (
      SELECT id,
        CASE WHEN len(hs) >= {n} THEN
          list_distinct(list_transform(range(1, len(hs)-{n}+2), i ->
            list_reduce(list_slice(hs, i, i+{n}-1), (a,b) -> (a*{P} + b) % {M})))
        ELSE CAST([] AS BIGINT[]) END gs
      FROM whs)"""
    )
    parts.append(
        f"eg AS (SELECT DISTINCT g FROM gr, unnest(gs) AS u(g) WHERE id % {eval_mod} = {eval_rem})"
    )
    parts.append("tg AS (SELECT id, g FROM gr, unnest(gs) AS u(g))")
    parts.append(
        "hits AS (SELECT tg.id, COUNT(*) ch FROM tg JOIN eg ON tg.g = eg.g GROUP BY tg.id)"
    )
    return (
        parts[0]
        + ", "
        + ", ".join(parts[1:])
        + f"""
    SELECT 'doc' || lpad(CAST(d.id AS VARCHAR), 10, '0') AS doc_id,
           CAST(COALESCE(h.ch, 0) AS BIGINT) AS contam_hits,
           COALESCE(h.ch, 0) >= {min_hits} AS is_contaminated
    FROM docs d LEFT JOIN hits h ON d.id = h.id
    """
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # test-set decontamination (GPT-3 n-gram rule): eval = every 16th
    # doc (numeric-id mod, SQL-replayable), train = the whole corpus —
    # so every eval member with >= n tokens is an exact-copy leak and
    # must be flagged; cross-doc hits on this uniform-token corpus are
    # ~0 and the oracle replays whatever occurs identically
    from torchestra_spark.functions.dedup import mark_contaminated
    from torchestra_spark.io.sources import tokenized_sequences

    toks = tokenized_sequences(spark, 2000, seed=42, partitions=8)
    nid = F.substring("doc_id", 4, 10).cast("long")
    evald = toks.filter(nid % 16 == 3)
    out = mark_contaminated(toks, "tokens", "doc_id", evald, n=8, min_hits=1)
    return out.select("doc_id", "contam_hits", "is_contaminated")


# Shared by `tokenize_vocab` and `tokenize_local`: both run the one
# shuffle-free tokenizer pass, so one oracle checks both.
_TOKENIZE_ORACLE_SQL = """
    WITH srcw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    wpos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[CAST(i AS BIGINT)] AS word
      FROM srcw, unnest(range(1, len(ws)+1)) AS r(i)),
    counts AS (SELECT word, COUNT(*) AS cnt FROM wpos GROUP BY 1),
    vocab AS (
      SELECT word,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS tid
      FROM counts
      QUALIFY tid <= 1000),
    mapped AS (
      SELECT w.doc_id, w.pos, COALESCE(v.tid, 0) AS tid
      FROM wpos w LEFT JOIN vocab v USING (word)),
    agg AS (
      SELECT doc_id, list(tid ORDER BY pos) AS tokens
      FROM mapped GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(len(a.tokens), 0) AS INT) AS n_tok,
           CAST(COALESCE(list_sum(a.tokens), 0) AS BIGINT) AS tok_sum,
           CAST(a.tokens[1] AS BIGINT) AS tok_head,
           CAST(a.tokens[-1] AS BIGINT) AS tok_tail
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def _tokenize_checksums(out: DataFrame) -> DataFrame:
    return out.select(
        "doc_id",
        "n_tok",
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("tok_sum"),
        F.get("tokens", 0).cast("long").alias("tok_head"),
        F.get("tokens", F.size("tokens") - 1).cast("long").alias("tok_tail"),
    )


def _q_tokenize_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # text -> token-id bridge (text.fit_vocab + tokenize_with_vocab):
    # fit a 1000-word vocab on documents (count DESC, word ASC ties —
    # IndexLookup's rule), tokenize the same corpus, return per-doc
    # checksums; the oracle replays vocab fit + mapping + in-order
    # array re-assembly in SQL
    from torchestra_spark.functions.text import fit_vocab, tokenize_with_vocab

    doc = _t(spark, sf_dir, "documents")
    vocab = fit_vocab(doc, "text", size=1000)
    return _tokenize_checksums(tokenize_with_vocab(doc, "text", "doc_id", vocab))


def _q_tokenize_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize_vocab's pass with an explicit vocabulary cap: vocabulary
    # in the task closure, one mapInArrow pass, corpus never moves —
    # same oracle
    from torchestra_spark.functions.text import fit_vocab, tokenize_with_vocab_local

    doc = _t(spark, sf_dir, "documents")
    vocab = fit_vocab(doc, "text", size=1000)
    return _tokenize_checksums(tokenize_with_vocab_local(doc, "text", "doc_id", vocab))


def _q_decontaminate_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `decontaminate`'s pass over a prebuilt index: the eval subset's
    # distinct gram hashes become a driver-built sorted index probed in
    # one mapInArrow pass (no join, no shuffle); the SAME SQL oracle
    # checks both queries
    from torchestra_spark.functions.dedup import (
        build_contamination_index,
        mark_contaminated_indexed,
    )
    from torchestra_spark.io.sources import tokenized_sequences

    toks = tokenized_sequences(spark, 2000, seed=42, partitions=8)
    nid = F.substring("doc_id", 4, 10).cast("long")
    idx = build_contamination_index(toks.filter(nid % 16 == 3), "tokens", n=8)
    return mark_contaminated_indexed(toks, "tokens", "doc_id", idx, n=8, min_hits=1)


def _q_near_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fused one-scan near-dup report (dedup.near_dup_sketches): simhash
    # hamming pairs + winnowing shared-fp pairs from a single mapInArrow
    # pass, full-outer-joined; the oracle replays BOTH pair paths over
    # the regenerated corpus and full-outer-joins them in SQL
    from torchestra_spark.functions.dedup import near_dup_report
    from torchestra_spark.io.sources import tokenized_sequences

    toks = tokenized_sequences(spark, 2000, seed=42, partitions=8)
    rep = near_dup_report(
        toks, "tokens", "doc_id", max_hamming=8, prefix_bits=16, tables=4,
        max_bucket_size=1000, k=5, w=4, min_shared=2, max_fp_freq=1000,
    )
    return rep.select(
        "id_a", "id_b", "hamming", "shared", F.round("overlap", 6).alias("overlap")
    )


def _q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SnapshotStore (checkpoint.py) under the driver gate: commit
    snapshot 0 from a deterministic subset of orders (even keys),
    rewrite ONE input partition with ALL keys, commit snapshot 1, then
    read AS OF snapshot 0 — partition pruning must select exactly the
    pinned version dirs, so the result equals the original subset,
    which the DuckDB oracle recomputes straight from orders."""
    import os
    import shutil
    import tempfile

    from torchestra_spark.checkpoint import SnapshotStore

    tag = os.path.basename(os.path.normpath(sf_dir))
    work = os.path.join(tempfile.gettempdir(), f"ts_snapgate_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    inp, outp = os.path.join(work, "in"), os.path.join(work, "out")
    orders = _t(spark, sf_dir, "orders")
    # partition on the priority's leading digit: SnapshotStore rejects
    # values needing hive path escaping ('4-NOT SPECIFIED' has a space)
    prio = F.substring("o_orderpriority", 1, 1)
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", prio.alias("prio")
    )
    v1.write.partitionBy("prio").parquet(inp)
    st = SnapshotStore(inp, outp, "prio")
    st.refresh(spark)  # snapshot 0
    orders.filter(prio == "1").select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(inp, "prio=1"))
    st.refresh(spark)  # snapshot 1: re-pins only prio=1-URGENT
    asof0 = st.load(spark, 0)
    # min/max are exact value picks (no float-sum order sensitivity),
    # so the doubles hash bit-identically against DuckDB; the hive
    # partition column comes back type-inferred as int — re-cast
    asof0 = asof0.withColumn("prio", F.col("prio").cast("string"))
    return asof0.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order IS the driver-gate order: the gate checks the
    # FIRST 50 entries only, so the window rotates per round (every
    # query must have a driver row no older than 2 rounds).  r7 window
    # = the 34 queries whose last driver row is r5 (rotated back in
    # first) + stacked_scaler (fixed this round: output scalarized,
    # one-Pipeline fit — its r6 row was a harness error) + the 5 new r7
    # queries (serve_pipeline, multimodal_decode_png,
    # multimodal_decode_jpeg, frame_sample_avi, exact_knn_batch) + 10
    # queries whose code changed in r7 (dedup.py pin/checkpoint_dir
    # plumbing, similarity.py DDL quoting, pipeline.py Feature
    # validation).  34 + 1 + 5 + 10 = 50.
    # Everything past the window was hash-green in r6 with r7-untouched
    # semantics; rotate back in r8.  Local replica:
    # scripts/check_oracle.py covers ALL rows.
    return {
        # --- last driver row r5 — window first
        "c4_filter": _q_c4_filter,
        "exact_dedup": _q_exact_dedup,
        "mark_exact_dups": _q_mark_exact_dups,
        "ngram_jaccard": _q_ngram_jaccard,
        "winnow_fingerprint": _q_winnow_fingerprint,
        "standard_score": _q_standard_score,
        "standard_score_ddof0": _q_standard_score_ddof0,
        "minmax_scale": _q_minmax_scale,
        "mean_scale": _q_mean_scale,
        "clamp_nan": _q_clamp_nan,
        "robust_scale": _q_robust_scale,
        "count_lookup": _q_count_lookup,
        "count_lookup_min_threshold": _q_count_lookup_min_threshold,
        "ratio_lookup": _q_ratio_lookup,
        "index_lookup": _q_index_lookup,
        "index_lookup_topk": _q_index_lookup_topk,
        "int_count_lookup": _q_int_count_lookup,
        "int_ratio_lookup": _q_int_ratio_lookup,
        "int_index_lookup": _q_int_index_lookup,
        "seq_len": _q_seq_len,
        "seq_trunc_sum": _q_seq_trunc_sum,
        "seq_trunc_pad": _q_seq_trunc_pad,
        "distinct_users_per_type": _q_distinct_users_per_type,
        "simhash_near_dups": _q_simhash_near_dups,
        "resize_bmp": _q_resize_bmp,
        "dedup_keep": _q_dedup_keep,
        "tdigest_cdf": _q_tdigest_cdf,
        "snapshot_time_travel": _q_snapshot_time_travel,
        "pack_blocks": _q_pack_blocks,
        "decontaminate": _q_decontaminate,
        "tumbling_stats": _q_tumbling_stats,
        "multimodal_decode_real": _q_multimodal_decode_real,
        "hash_bucket": _q_hash_bucket,
        "simhash_tokens_near_dups": _q_simhash_tokens_near_dups,
        # --- fixed in r7 (r6 row was a driver-harness error)
        "stacked_scaler": _q_stacked_scaler,
        # --- new in r7
        "serve_pipeline": _q_serve_pipeline,
        "multimodal_decode_png": _q_multimodal_decode_png,
        "multimodal_decode_jpeg": _q_multimodal_decode_jpeg,
        "frame_sample_avi": _q_frame_sample_avi,
        "exact_knn_batch": _q_exact_knn_batch,
        # --- code changed in r7
        "near_dup_report": _q_near_dup_report,
        "winnow_near_dups": _q_winnow_near_dups,
        "dedup_clusters": _q_dedup_clusters,
        "minhash_dedup": _q_minhash_dedup,
        "embedding_near_dups": _q_embedding_near_dups,
        "ann_topk": _q_ann_topk,
        "ivf_topk_stored": _q_ivf_topk_stored,
        "pq_topk": _q_pq_topk,
        "ivfpq_topk": _q_ivfpq_topk,
        "ratio_z": _q_ratio_z,
        # ---------------- past the 50-row gate window from here on:
        # ALL hash-green in CORRECTNESS_r06 with r7-untouched semantics
        # (pipeline_multi_feature, near_dup_probe and
        # decontaminate_indexed slid just past to make room for the
        # three new r7 queries: their r6 rows are green;
        # pipeline_multi_feature's only r7 change is the Feature
        # constructor validation that ratio_z — in the window —
        # exercises on the same code path, and the two probe paths
        # don't touch the r7 pin/quoting changes; all rotate back in
        # r8)
        "pipeline_multi_feature": _q_pipeline_multi_feature,
        "near_dup_probe": _q_near_dup_probe,
        "decontaminate_indexed": _q_decontaminate_indexed,
        "simhash_tokens": _q_simhash_tokens,
        "multimodal_decode": _q_multimodal_decode,
        "embedding_quantize": _q_embedding_quantize,
        "cosine_topk": _q_cosine_topk,
        "fit_update_incremental": _q_fit_update_incremental,
        "fused_lookups": _q_fused_lookups,
        "grouped_zscore": _q_grouped_zscore,
        "asof_join": _q_asof_join,
        "asof_join_salted": _q_asof_join_salted,
        "asof_join_merge_strategy": _q_asof_join_merge_strategy,
        "asof_join_broadcast": _q_asof_join_broadcast,
        "asof_join_tolerance": _q_asof_join_tolerance,
        "asof_leakage_check": _q_asof_leakage_check,
        "interval_join": _q_interval_join,
        "lag_lead": _q_lag_lead,
        "fill_forward": _q_fill_forward,
        "rolling_stats": _q_rolling_stats,
        "sessionize": _q_sessionize,
        "doc_token_trunc": _q_doc_token_trunc,
        "tokenized_pipeline": _q_tokenized_pipeline,
        "token_count": _q_token_count,
        "punct_ratio": _q_punct_ratio,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality_score,
        "stopword_ratio": _q_stopword_ratio,
        "mixture_sample": _q_mixture_sample,
        "corpus_curation": _q_corpus_curation,
        "repetition_ratio": _q_repetition_ratio,
        "asof_multi": _q_asof_multi,
        "gopher_filter": _q_gopher_filter,
        "tokenize_vocab": _q_tokenize_vocab,
        "tokenize_local": _q_tokenize_local,
        "ivf_topk": _q_ivf_topk,
        "quantized_topk": _q_quantized_topk,
        "dedup_keep_best": _q_dedup_keep_best,
        "pq_rerank_topk": _q_pq_rerank_topk,
        "ivfpq_rerank_topk": _q_ivfpq_rerank_topk,
    }

def oracle_sql() -> dict[str, str]:
    return {
        # t-digest cdf tolerance as a checked invariant: the Spark side
        # counts rows where |cdf - exact pct rank| > 1e-2; a correct
        # sketch yields zero, so the oracle is the constant
        "tdigest_cdf": "SELECT CAST(0 AS BIGINT) AS violations",
        # time travel AS OF snapshot 0 == the deterministic subset the
        # snapshot was committed from (see _q_snapshot_time_travel)
        "snapshot_time_travel": """
            SELECT SUBSTR(o_orderpriority, 1, 1) AS prio,
                   COUNT(*) AS n,
                   CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
                   MIN(o_totalprice) AS min_price,
                   MAX(o_totalprice) AS max_price
            FROM orders
            WHERE o_orderkey % 2 = 0
            GROUP BY 1
        """,
        "standard_score": """
            SELECT l_orderkey, l_linenumber,
                   ROUND((l_extendedprice - AVG(l_extendedprice) OVER ())
                         / STDDEV_SAMP(l_extendedprice) OVER (), 6) AS price_z
            FROM lineitem
        """,
        "standard_score_ddof0": """
            SELECT event_id,
                   ROUND((value - AVG(value) OVER ()) / STDDEV_POP(value) OVER (), 6) AS value_z
            FROM events
        """,
        "ratio_z": """
            SELECT l_orderkey, l_linenumber,
                   ROUND((r - AVG(r) OVER ()) / STDDEV_SAMP(r) OVER (), 6) AS ratio_z
            FROM (
                SELECT l_orderkey, l_linenumber,
                       CASE WHEN l_quantity = 0 THEN NULL
                            ELSE l_extendedprice / l_quantity END AS r
                FROM lineitem
            )
        """,
        "minmax_scale": """
            SELECT event_id,
                   ROUND((value - MIN(value) OVER ())
                         / (MAX(value) OVER () - MIN(value) OVER ()), 6) AS value_mm
            FROM events
        """,
        "mean_scale": """
            SELECT l_orderkey, l_linenumber,
                   ROUND((l_quantity - AVG(l_quantity) OVER ())
                         / (MAX(l_quantity) OVER () - MIN(l_quantity) OVER ()), 6) AS qty_ms
            FROM lineitem
        """,
        "clamp_nan": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(LEAST(GREATEST(
                       (l_extendedprice - AVG(l_extendedprice) OVER ())
                       / STDDEV_SAMP(l_extendedprice) OVER (), -1.0), 1.0), 6) AS price_c
            FROM lineitem
        """,
        "stacked_scaler": """
            SELECT l_orderkey, l_linenumber,
                   ROUND((l_quantity - AVG(l_quantity) OVER ())
                         / (MAX(l_quantity) OVER () - MIN(l_quantity) OVER ()), 6) + 0.0
                     AS stacked_0,
                   ROUND((l_extendedprice - AVG(l_extendedprice) OVER ())
                         / (MAX(l_extendedprice) OVER () - MIN(l_extendedprice) OVER ()), 6) + 0.0
                     AS stacked_1,
                   ROUND((l_discount - AVG(l_discount) OVER ())
                         / (MAX(l_discount) OVER () - MIN(l_discount) OVER ()), 6) + 0.0
                     AS stacked_2
            FROM lineitem
        """,
        # incremental fit(even)+fit_update(odd) merges min/max and counts
        # exactly == one full fit
        "fit_update_incremental": """
            WITH s AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
                       FROM orders),
                 pc AS (SELECT o_orderpriority AS k, COUNT(*) AS cnt
                        FROM orders GROUP BY 1)
            SELECT o.o_orderkey,
                   ROUND((o.o_totalprice - s.mn) / (s.mx - s.mn), 6) AS price_mm,
                   COALESCE(pc.cnt, 0) AS prio_cnt
            FROM orders o
            CROSS JOIN s
            LEFT JOIN pc ON o.o_orderpriority = pc.k
        """,
        "fused_lookups": """
            WITH pc AS (SELECT o_orderpriority AS k, COUNT(*) AS cnt
                        FROM orders GROUP BY 1),
                 sr AS (SELECT o_orderstatus AS k, COUNT(*) AS cnt
                        FROM orders GROUP BY 1),
                 pi AS (SELECT o_orderpriority AS k,
                               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                                                  o_orderpriority ASC) + 1 AS idx
                        FROM orders GROUP BY o_orderpriority)
            SELECT o.o_orderkey,
                   COALESCE(pc.cnt, 0) AS prio_cnt,
                   ROUND(COALESCE(sr.cnt, 0) * 1.0 / (SELECT COUNT(*) FROM orders), 9)
                     AS status_ratio,
                   COALESCE(pi.idx, 1) AS prio_idx
            FROM orders o
            LEFT JOIN pc ON o.o_orderpriority = pc.k
            LEFT JOIN sr ON o.o_orderstatus = sr.k
            LEFT JOIN pi ON o.o_orderpriority = pi.k
        """,
        "count_lookup": """
            SELECT o.o_orderkey, COALESCE(v.cnt, 0) AS prio_cnt
            FROM orders o
            LEFT JOIN (SELECT o_orderpriority AS k, COUNT(*) AS cnt
                       FROM orders GROUP BY 1) v
              ON o.o_orderpriority = v.k
        """,
        "count_lookup_min_threshold": """
            SELECT p.p_partkey, COALESCE(v.cnt, 0) AS brand_cnt
            FROM part p
            LEFT JOIN (SELECT p_brand AS k, COUNT(*) AS cnt
                       FROM part GROUP BY 1 HAVING COUNT(*) >= 5) v
              ON p.p_brand = v.k
        """,
        "ratio_lookup": """
            SELECT c.c_custkey,
                   ROUND(COALESCE(v.cnt, 0) * 1.0 / (SELECT COUNT(*) FROM customer), 9)
                     AS seg_ratio
            FROM customer c
            LEFT JOIN (SELECT c_mktsegment AS k, COUNT(*) AS cnt
                       FROM customer GROUP BY 1) v
              ON c.c_mktsegment = v.k
        """,
        "index_lookup": """
            WITH v AS (
                SELECT c_mktsegment AS k,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c_mktsegment ASC) + 1 AS idx
                FROM customer GROUP BY c_mktsegment
            )
            SELECT c.c_custkey, COALESCE(v.idx, 1) AS seg_idx
            FROM customer c LEFT JOIN v ON c.c_mktsegment = v.k
        """,
        "index_lookup_topk": """
            WITH v AS (
                SELECT k, idx FROM (
                    SELECT p_brand AS k,
                           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, p_brand ASC) + 1 AS idx
                    FROM part GROUP BY p_brand
                ) WHERE idx <= 6
            )
            SELECT p.p_partkey, COALESCE(v.idx, 1) AS brand_idx
            FROM part p LEFT JOIN v ON p.p_brand = v.k
        """,
        "int_count_lookup": """
            SELECT l.l_orderkey, l.l_linenumber, v.cnt AS ln_cnt
            FROM lineitem l
            JOIN (SELECT l_linenumber AS k, COUNT(*) AS cnt
                  FROM lineitem GROUP BY 1) v
              ON l.l_linenumber = v.k
        """,
        "int_ratio_lookup": """
            SELECT p.p_partkey,
                   ROUND(v.cnt * 1.0 / (SELECT COUNT(*) FROM part), 9) AS size_ratio
            FROM part p
            JOIN (SELECT p_size AS k, COUNT(*) AS cnt FROM part GROUP BY 1) v
              ON p.p_size = v.k
        """,
        "int_index_lookup": """
            WITH v AS (
                SELECT k, ROW_NUMBER() OVER (ORDER BY cnt DESC, CAST(k AS VARCHAR) ASC) + 1 AS idx
                FROM (SELECT p_size AS k, COUNT(*) AS cnt FROM part GROUP BY 1)
            )
            SELECT p.p_partkey, COALESCE(v.idx, 1) AS size_idx
            FROM part p LEFT JOIN v ON p.p_size = v.k
        """,
        "pipeline_multi_feature": """
            WITH v AS (
                SELECT l_returnflag AS k,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_returnflag ASC) + 1 AS idx
                FROM lineitem GROUP BY l_returnflag
            )
            SELECT l.l_orderkey, l.l_linenumber,
                   ROUND((l.l_extendedprice - AVG(l.l_extendedprice) OVER ())
                         / STDDEV_SAMP(l.l_extendedprice) OVER (), 6) AS price_z,
                   ROUND((l.l_quantity - MIN(l.l_quantity) OVER ())
                         / (MAX(l.l_quantity) OVER () - MIN(l.l_quantity) OVER ()), 6) AS qty_mm,
                   COALESCE(v.idx, 1) AS flag_idx
            FROM lineitem l LEFT JOIN v ON l.l_returnflag = v.k
        """,
        "asof_join": """
            WITH f AS (
                SELECT user_id, ts AS feature_ts, MAX(value) AS fval
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT e.event_id, e.user_id, e.ts,
                   ROUND(f.fval, 6) AS fval, f.feature_ts AS matched_ts
            FROM events e
            ASOF LEFT JOIN f ON e.user_id = f.user_id AND e.ts >= f.feature_ts
        """,
        "asof_multi": """
            WITH p AS (
                SELECT user_id, ts AS feature_ts, MAX(value) AS fval
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            ), c AS (
                SELECT user_id, ts AS click_ts, MAX(value) AS cval
                FROM events WHERE event_type = 'click' GROUP BY user_id, ts
            )
            SELECT e.event_id, e.user_id, e.ts,
                   ROUND(p.fval, 6) AS fval, p.feature_ts AS p_ts,
                   ROUND(c.cval, 6) AS cval, c.click_ts AS c_ts
            FROM events e
            ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.feature_ts
            ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.click_ts
        """,
        "asof_join_salted": """
            WITH f AS (
                SELECT user_id, ts AS feature_ts, MAX(value) AS fval
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT e.event_id, e.user_id,
                   ROUND(f.fval, 6) AS fval, f.feature_ts AS matched_ts
            FROM events e
            ASOF LEFT JOIN f ON e.user_id = f.user_id AND e.ts >= f.feature_ts
        """,
        "asof_join_merge_strategy": """
            WITH f AS (
                SELECT user_id, ts AS feature_ts, MAX(value) AS fval
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT e.event_id, e.user_id,
                   ROUND(f.fval, 6) AS fval, f.feature_ts AS matched_ts
            FROM events e
            ASOF LEFT JOIN f ON e.user_id = f.user_id AND e.ts >= f.feature_ts
        """,
        "asof_leakage_check": """
            SELECT CAST(0 AS BIGINT) AS leaks
        """,
        "asof_join_broadcast": """
            WITH f AS (
                SELECT user_id, ts AS feature_ts, MAX(value) AS fval
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT e.event_id, e.user_id,
                   ROUND(f.fval, 6) AS fval, f.feature_ts AS matched_ts
            FROM events e
            ASOF LEFT JOIN f ON e.user_id = f.user_id AND e.ts >= f.feature_ts
        """,
        "asof_join_tolerance": """
            WITH f AS (
                SELECT user_id, ts AS feature_ts, MAX(value) AS fval
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            ), j AS (
                SELECT e.event_id, e.ts, f.fval, f.feature_ts
                FROM events e
                ASOF LEFT JOIN f ON e.user_id = f.user_id AND e.ts >= f.feature_ts
            )
            SELECT event_id,
                   CASE WHEN ts - feature_ts <= INTERVAL 2 DAY
                        THEN ROUND(fval, 6) END AS fval,
                   CASE WHEN ts - feature_ts <= INTERVAL 2 DAY
                        THEN feature_ts END AS matched_ts
            FROM j
        """,
        "interval_join": """
            WITH eras AS (
                SELECT user_id, ts AS valid_from,
                       COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                TIMESTAMP '9999-01-01') AS valid_to,
                       event_id AS era_id
                FROM events WHERE event_type = 'signup'
            )
            SELECT e.event_id, r.era_id
            FROM events e LEFT JOIN eras r
              ON e.user_id = r.user_id
             AND e.ts >= r.valid_from AND e.ts < r.valid_to
        """,
        "distinct_users_per_type": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "stopword_ratio": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
                FROM documents
            )
            SELECT doc_id,
                   ROUND(CASE WHEN len(ws) > 0
                              THEN len(list_filter(ws, x -> list_contains(
                                   ['the','and','of','to','a','in','is','it','that','for'], x)))
                                   * 1.0 / len(ws)
                              ELSE 0.0 END, 6) AS sw_ratio
            FROM w
        """,
        "lag_lead": """
            SELECT event_id,
                   ROUND(LAG(value, 1) OVER w, 6) AS value_lag1,
                   ROUND(LAG(value, 2) OVER w, 6) AS value_lag2,
                   ROUND(LEAD(value, 1) OVER w, 6) AS value_lead1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "fill_forward": """
            SELECT event_id,
                   ROUND(LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                                    IGNORE NULLS) OVER w, 6) AS purchase_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "grouped_zscore": """
            WITH s AS (
                SELECT event_type,
                       COUNT(value) AS n, AVG(value) AS m, VAR_POP(value) AS v
                FROM events GROUP BY event_type
            )
            SELECT e.event_id,
                   ROUND((e.value - s.m) / sqrt(s.v * s.n / (s.n - 1)), 6) AS value_gz
            FROM events e JOIN s ON e.event_type = s.event_type
        """,
        "rolling_stats": """
            SELECT event_id,
                   ROUND(AVG(value) OVER w, 6) AS roll_mean,
                   ROUND(MIN(value) OVER w, 6) AS roll_min,
                   ROUND(MAX(value) OVER w, 6) AS roll_max,
                   COUNT(value) OVER w AS roll_count
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)
        """,
        "sessionize": """
            WITH g AS (
                SELECT event_id, user_id, ts,
                       CASE WHEN ts - LAG(ts) OVER w IS NULL
                              OR ts - LAG(ts) OVER w > INTERVAL 6 HOUR
                            THEN 1 ELSE 0 END AS boundary
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id, user_id,
                   CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - 1 AS BIGINT) AS session_id
            FROM g
        """,
        # the flagship input_hint pipeline: the synthetic generator AND
        # the pipeline are reproduced bit-exactly in SQL (splitmix64 via
        # 32-bit-split HUGEINT multiplies) — see _tokenized_oracle_sql
        "tokenized_pipeline": _tokenized_oracle_sql(2000, 42),
"dedup_keep": f"""
            WITH RECURSIVE {_winnow_fps_sql(5, 4)},
            capped AS (SELECT * FROM fps
                       QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 1000),
            prs AS (
              SELECT l.doc_id id_a, r.doc_id id_b
              FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
              GROUP BY 1, 2 HAVING COUNT(*) >= 2),
            edges AS (SELECT id_a a, id_b b FROM prs
                      UNION SELECT id_b, id_a FROM prs),
            nodes AS (SELECT DISTINCT a AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, rr.r FROM edges e JOIN reach rr ON e.b = rr.id),
            dups AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(r))
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id FROM dups)
        """,
        "hash_bucket": """
            SELECT doc_id,
                   CAST((list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(regexp_split_to_array(source, ''), c -> CAST(ascii(c) AS BIGINT))),
                       (acc, x) -> (acc*31 + x) % 1000000007) + 5) % 1023 + 1 AS BIGINT) AS src_bucket
            FROM documents
        """,
        # winnowing: the whole sketch is WINNOW_MOD modular arithmetic,
        # replayed exactly by the CTE (incl. the fp-frequency cap)
        "winnow_fingerprint": f"""
            WITH {_winnow_fps_sql(5, 4)}
            SELECT doc_id, fp FROM fps
        """,
        "winnow_near_dups": f"""
            WITH {_winnow_fps_sql(5, 4)},
            sizes AS (SELECT doc_id, COUNT(*) n FROM fps GROUP BY doc_id),
            capped AS (SELECT * FROM fps
                       QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 1000),
            pairs AS (
              SELECT l.doc_id id_a, r.doc_id id_b, COUNT(*) shared
              FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
              GROUP BY 1, 2 HAVING COUNT(*) >= 2)
            SELECT p.id_a, p.id_b, p.shared,
                   ROUND(CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared), 6) AS overlap
            FROM pairs p
            JOIN sizes sa ON sa.doc_id = p.id_a
            JOIN sizes sb ON sb.doc_id = p.id_b
        """,
        # connected components: min-reachable-id per node via recursive
        # transitive closure over the same winnow pair graph
        "dedup_clusters": f"""
            WITH RECURSIVE {_winnow_fps_sql(5, 4)},
            capped AS (SELECT * FROM fps
                       QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 1000),
            prs AS (
              SELECT l.doc_id id_a, r.doc_id id_b
              FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
              GROUP BY 1, 2 HAVING COUNT(*) >= 2),
            edges AS (SELECT id_a a, id_b b FROM prs
                      UNION SELECT id_b, id_a FROM prs),
            nodes AS (SELECT DISTINCT a AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, rr.r FROM edges e JOIN reach rr ON e.b = rr.id)
            SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE {_winnow_fps_sql(5, 4)},
            capped AS (SELECT * FROM fps
                       QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 1000),
            prs AS (
              SELECT l.doc_id id_a, r.doc_id id_b
              FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
              GROUP BY 1, 2 HAVING COUNT(*) >= 2),
            edges AS (SELECT id_a a, id_b b FROM prs
                      UNION SELECT id_b, id_a FROM prs),
            nodes AS (SELECT DISTINCT a AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, rr.r FROM edges e JOIN reach rr ON e.b = rr.id),
            labels AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
            best AS (
              SELECT d.doc_id
              FROM documents d JOIN labels l USING (doc_id)
              QUALIFY ROW_NUMBER() OVER (
                PARTITION BY l.cluster_id
                ORDER BY d.n_chars DESC, d.doc_id ASC) = 1)
            SELECT doc_id FROM best
            UNION ALL
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM labels)
        """,
        "pack_blocks": _pack_blocks_oracle_sql(2000, 42, 128),
        "near_dup_report": _near_dup_report_oracle_sql(
            2000, 42, max_hamming=8, prefix_bits=16, tables=4,
            max_bucket_size=1000, k=5, w=4, min_shared=2, max_fp_freq=1000,
        ),
        "near_dup_probe": _near_dup_probe_oracle_sql(
            2000, 42, max_hamming=8, prefix_bits=16, tables=4,
            max_bucket_size=1000, ref_mod=4, ref_rem=1,
        ),
        "decontaminate": _decontaminate_oracle_sql(
            2000, 42, n=8, min_hits=1, eval_mod=16, eval_rem=3
        ),
        "decontaminate_indexed": _decontaminate_oracle_sql(
            2000, 42, n=8, min_hits=1, eval_mod=16, eval_rem=3
        ),
        # vocab fit (count DESC, word ASC) + broadcast mapping + list
        # re-assembly in document word order, replayed over documents
        "tumbling_stats": """
            SELECT user_id,
                   CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS win_epoch,
                   COUNT(*) AS n,
                   ROUND(AVG(value), 6) AS mean,
                   ROUND(MIN(value), 6) AS vmin,
                   ROUND(MAX(value), 6) AS vmax
            FROM events
            GROUP BY 1, 2
        """,
        "tokenize_vocab": _TOKENIZE_ORACLE_SQL,
        # identical semantics, different physical plan (task-closure
        # dict + mapInPandas, zero shuffle) — same oracle by design
        "tokenize_local": _TOKENIZE_ORACLE_SQL,
        "simhash_tokens": _simhash_tokens_oracle_sql(2000, 42),
        "simhash_tokens_near_dups": _simhash_tokens_near_dups_oracle_sql(
            2000, 42, max_hamming=8, prefix_bits=16, tables=4, max_bucket_size=1000
        ),
        "simhash_near_dups": _simhash_text_near_dups_oracle_sql(
            max_hamming=8, prefix_bits=8, tables=4, max_bucket_size=1000
        ),
        # resize_bmp: nearest-neighbor index picks replayed as integer
        # math over the synthesized source pixels — resized pixel
        # (j,i,c) of doc d is (d*31 + ((j*h0)//6)*7 + ((i*w0)//5)*3 + c) % 256
        "multimodal_decode_png": """
            WITH src AS (
              SELECT doc_id, 4 + n_chars % 5 AS h0, 4 + n_chars % 7 AS w0
              FROM documents
            )
            SELECT s.doc_id, CAST(s.h0 AS INT) AS h, CAST(s.w0 AS INT) AS w,
                   CAST(SUM((s.doc_id*31 + j.range*7 + i.range*3 + c.range) % 256)
                        AS BIGINT) AS checksum
            FROM src s
            CROSS JOIN range(8) j CROSS JOIN range(10) i CROSS JOIN range(3) c
            WHERE j.range < s.h0 AND i.range < s.w0
            GROUP BY 1, 2, 3
        """,
        "frame_sample_avi": """
            WITH src AS (
              SELECT doc_id, 4 + n_chars % 3 AS h0, 4 + n_chars % 5 AS w0,
                     3 + n_chars % 4 AS nf
              FROM documents
            )
            SELECT s.doc_id, CAST(f.range AS INT) AS frame_idx,
                   CAST(SUM((s.doc_id*31 + f.range*97 + j.range*7
                             + i.range*3 + c.range) % 256) AS BIGINT) AS checksum
            FROM src s
            CROSS JOIN range(6) f CROSS JOIN range(6) j
            CROSS JOIN range(8) i CROSS JOIN range(3) c
            WHERE f.range < s.nf AND f.range % 2 = 0
              AND j.range < s.h0 AND i.range < s.w0
            GROUP BY 1, 2
        """,
        "multimodal_decode_jpeg": """
            SELECT CAST(0 AS BIGINT) AS violations,
                   CAST(SUM((8 + n_chars % 9) * 1000 + (8 + n_chars % 13))
                        AS BIGINT) AS dims_checksum,
                   COUNT(*) AS n_docs
            FROM documents
        """,
        "serve_pipeline": """
            WITH f AS (
                SELECT user_id, ts AS feature_ts, MAX(value) AS fval
                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT e.event_id, e.user_id,
                   ROUND(f.fval, 6) AS fval, f.feature_ts AS purch_ts,
                   ROUND((e.value
                          - (SELECT AVG(value) FROM events WHERE event_id % 2 = 0))
                         / (SELECT STDDEV_SAMP(value) FROM events WHERE event_id % 2 = 0),
                         6) AS value_z
            FROM events e
            ASOF LEFT JOIN f ON e.user_id = f.user_id AND e.ts >= f.feature_ts
            WHERE e.event_id % 2 = 1
        """,
        "resize_bmp": """
            WITH src AS (
              SELECT doc_id, 4 + n_chars % 5 AS h0, 4 + n_chars % 7 AS w0
              FROM documents
            ),
            px AS (
              SELECT s.doc_id,
                     (s.doc_id*31 + ((j.range*s.h0)//6)*7
                      + ((i.range*s.w0)//5)*3 + c.range) % 256 AS v
              FROM src s
              CROSS JOIN range(6) j CROSS JOIN range(5) i CROSS JOIN range(3) c
            )
            SELECT doc_id, CAST(6 AS INT) AS h, CAST(5 AS INT) AS w,
                   CAST(SUM(v) AS BIGINT) AS checksum
            FROM px GROUP BY doc_id
        """,
        "ivfpq_topk": """
            WITH q AS (
                SELECT CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id,
                   ROUND(list_sum(list_transform(range(1, len(qv) + 1), i ->
                         (CAST(embedding[i] AS DOUBLE) - qv[i]) ^ 2)), 6) AS ivfpq_dist
            FROM embeddings, q
            ORDER BY list_sum(list_transform(range(1, len(qv) + 1), i ->
                     (CAST(embedding[i] AS DOUBLE) - qv[i]) ^ 2)) ASC, vec_id ASC
            LIMIT 10
        """,
        "seq_len": """
            SELECT vec_id, len(embedding) AS seq_len FROM embeddings
        """,
        "seq_trunc_sum": """
            SELECT vec_id,
                   ROUND(list_sum(CAST(embedding[1:8] AS DOUBLE[])), 6) AS s8
            FROM embeddings
        """,
        "seq_trunc_pad": """
            SELECT vec_id,
                   len(embedding) + 16 AS pad_len,
                   ROUND(list_sum(CAST(embedding AS DOUBLE[])), 6) AS pad_sum
            FROM embeddings
        """,
        "doc_token_trunc": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   array_to_string(string_split(text, ' ')[1:5], ' ') AS head5
            FROM documents
        """,
        "token_count": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                     AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
                     AS n_bpe_tokens
            FROM documents
        """,
        "punct_ratio": """
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
                FROM documents
            )
            SELECT doc_id,
                   ROUND(CASE WHEN length(text) > 0
                              THEN length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
                                   * 1.0 / length(text)
                              ELSE 0.0 END, 6) AS punct_ratio,
                   ROUND(CASE WHEN len(ws) > 0
                              THEN list_sum(list_transform(ws, x -> length(x)))
                                   * 1.0 / len(ws)
                              ELSE 0.0 END, 6) AS mean_word_len
            FROM w
        """,
        "lang_id": """
            WITH w AS (
                SELECT doc_id,
                       list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                     x -> x <> '')) AS ws
                FROM documents
            ), s AS (
                SELECT doc_id,
                       len(list_intersect(ws, ['the','and','of','to','a','in','is','it','that','for'])) AS en,
                       len(list_intersect(ws, ['der','die','und','das','ist','von','mit','den','ein','nicht'])) AS de,
                       len(list_intersect(ws, ['le','la','et','les','des','un','une','est','pour','que'])) AS fr,
                       len(list_intersect(ws, ['el','la','de','que','los','una','por','con','para','es'])) AS es
                FROM w
            )
            SELECT doc_id,
                   CASE WHEN GREATEST(en, de, fr, es) = 0 THEN 'und'
                        WHEN en = GREATEST(en, de, fr, es) THEN 'en'
                        WHEN de = GREATEST(en, de, fr, es) THEN 'de'
                        WHEN fr = GREATEST(en, de, fr, es) THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM s
        """,
        "exact_dedup": """
            SELECT doc_id FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                           ORDER BY doc_id) AS rn
                FROM documents
            ) WHERE rn = 1
        """,
        "mark_exact_dups": """
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
                FROM documents
            )
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY norm) AS canonical_id,
                   doc_id <> MIN(doc_id) OVER (PARTITION BY norm) AS is_duplicate
            FROM n
        """,
        "ngram_jaccard": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(ws) >= 2
                            THEN list_distinct(list_transform(range(1, len(ws)),
                                 i -> ws[i] || ' ' || ws[i+1]))
                            ELSE [] END AS s
                FROM w
            )
            SELECT a.doc_id AS id_a,
                   ROUND(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
                              THEN len(list_intersect(a.s, b.s)) * 1.0
                                   / len(list_distinct(list_concat(a.s, b.s)))
                              ELSE 0.0 END, 6) AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        """,
"ivfpq_rerank_topk": """
            WITH q AS (
                SELECT CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id,
                   ROUND(list_sum(list_transform(range(1, len(qv) + 1), i ->
                         (CAST(embedding[i] AS DOUBLE) - qv[i]) ^ 2)), 6) AS dist
            FROM embeddings, q
            ORDER BY list_sum(list_transform(range(1, len(qv) + 1), i ->
                     (CAST(embedding[i] AS DOUBLE) - qv[i]) ^ 2)) ASC, vec_id ASC
            LIMIT 10
        """,
        "pq_rerank_topk": """
            WITH q AS (
                SELECT CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id,
                   ROUND(list_sum(list_transform(range(1, len(qv) + 1), i ->
                         (CAST(embedding[i] AS DOUBLE) - qv[i]) ^ 2)), 6) AS dist
            FROM embeddings, q
            ORDER BY list_sum(list_transform(range(1, len(qv) + 1), i ->
                     (CAST(embedding[i] AS DOUBLE) - qv[i]) ^ 2)) ASC, vec_id ASC
            LIMIT 10
        """,
        "pq_topk": """
            WITH q AS (
                SELECT CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id,
                   ROUND(list_sum(list_transform(range(1, len(qv) + 1), i ->
                         (CAST(embedding[i] AS DOUBLE) - qv[i]) ^ 2)), 6) AS pq_dist
            FROM embeddings, q
            ORDER BY list_sum(list_transform(range(1, len(qv) + 1), i ->
                     (CAST(embedding[i] AS DOUBLE) - qv[i]) ^ 2)) ASC, vec_id ASC
            LIMIT 10
        """,
        "embedding_quantize": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), s AS (
                SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
                FROM e
            ), q AS (
                SELECT vec_id, v, scale,
                       CASE WHEN scale > 0
                            THEN list_transform(v, x -> CAST(round(x / scale) AS INT))
                            ELSE list_transform(v, x -> 0) END AS qv
                FROM s
            )
            SELECT vec_id,
                   ROUND(scale, 6) AS scale,
                   CAST(list_sum(qv) AS BIGINT) AS q_sum,
                   ROUND(list_max(list_transform(range(1, len(v) + 1), i ->
                         abs(v[i] - qv[i] * scale))), 6) AS max_err
            FROM q
        """,
        "quantized_topk": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), s AS (
                SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
                FROM e
            ), d AS (
                SELECT vec_id,
                       CASE WHEN scale > 0
                            THEN list_transform(v, x -> CAST(round(x / scale) AS INT) * scale)
                            ELSE list_transform(v, x -> 0.0) END AS dv
                FROM s
            ), q AS (
                SELECT CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id,
                   ROUND(list_cosine_similarity(dv, qv), 6) AS cos_q
            FROM d, q
            ORDER BY list_cosine_similarity(dv, qv) DESC, vec_id ASC
            LIMIT 20
        """,
        "cosine_topk": """
            WITH q AS (
                SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                CAST(qv AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings, q
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            CAST(qv AS DOUBLE[])) DESC, vec_id ASC
            LIMIT 20
        """,
        "exact_knn_batch": """
            WITH qs AS (
                SELECT embedding AS qv,
                       CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS q
                FROM embeddings ORDER BY vec_id LIMIT 3
            ), scored AS (
                SELECT qs.q, e.vec_id,
                       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                              CAST(qs.qv AS DOUBLE[])) AS sim
                FROM embeddings e CROSS JOIN qs
            ), ranked AS (
                SELECT q, vec_id, sim,
                       CAST(ROW_NUMBER() OVER (PARTITION BY q
                            ORDER BY sim DESC, vec_id ASC) AS INT) AS rank
                FROM scored
            )
            SELECT q, vec_id, ROUND(sim, 6) AS cos_sim, rank
            FROM ranked WHERE rank <= 10
        """,
        # ann_topk probes all 2^4 hyperplane buckets and ivf_topk all 8
        # IVF cells (recall 1.0), so both equal exact brute-force top-10
        "ann_topk": """
            WITH q AS (
                SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                CAST(qv AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings, q
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            CAST(qv AS DOUBLE[])) DESC, vec_id ASC
            LIMIT 10
        """,
        "ivf_topk": """
            WITH q AS (
                SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                CAST(qv AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings, q
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            CAST(qv AS DOUBLE[])) DESC, vec_id ASC
            LIMIT 10
        """,
        "ivf_topk_stored": """
            WITH q AS (
                SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1
            )
            SELECT vec_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                                CAST(qv AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings, q
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            CAST(qv AS DOUBLE[])) DESC, vec_id ASC
            LIMIT 10
        """,
        # robust_scale runs RobustScale(exact=True): Spark percentile and
        # DuckDB quantile_cont share the linear-interpolation definition
        "robust_scale": """
            WITH s AS (
                SELECT quantile_cont(l_extendedprice, 0.5)  AS med,
                       quantile_cont(l_extendedprice, 0.75)
                         - quantile_cont(l_extendedprice, 0.25) AS iqr
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   ROUND((l_extendedprice - med) / iqr, 6) AS price_r
            FROM lineitem, s
        """,
        # quality_score composes the four already-oracled component
        # expressions with identical fp evaluation order
        "mixture_sample": _mixture_sample_oracle_sql(7),
        "corpus_curation": _corpus_curation_oracle_sql(11),
        "repetition_ratio": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS lws
                FROM documents
            ), g AS (
                SELECT doc_id,
                       CASE WHEN len(lws) >= 3 THEN
                           list_transform(range(1, len(lws) - 1), i ->
                               array_to_string(list_slice(lws, i, i + 2), ' '))
                       ELSE CAST([] AS VARCHAR[]) END AS gs
                FROM w
            )
            SELECT doc_id,
                   ROUND(CASE WHEN len(gs) > 0
                              THEN 1.0 - len(list_distinct(gs)) * 1.0 / len(gs)
                              ELSE 0.0 END, 6) AS rep3
            FROM g
        """,
        "gopher_filter": """
            WITH p AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 13 = 0 THEN text || ' ' || repeat('12345 ', 30)
                            WHEN doc_id % 11 = 0 THEN text || ' ...'
                            WHEN doc_id % 7 = 0 THEN text || ' #####################'
                            WHEN doc_id % 5 = 0 THEN '- ' || text
                            ELSE text END AS text
                FROM documents
            ), w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws,
                       list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS lws,
                       string_split(text, chr(10)) AS ls
                FROM p
            ), c AS (
                SELECT doc_id,
                       len(ws) AS n,
                       CASE WHEN len(ws) > 0
                            THEN list_sum(list_transform(ws, x -> length(x)))
                                 * 1.0 / len(ws)
                            ELSE 0.0 END AS mwl,
                       len(list_filter(lws, x -> list_contains(
                           ['the','and','of','to','a','in','is','it','that','for'], x))) AS sw_hits,
                       CASE WHEN len(lws) >= 3 THEN
                           list_transform(range(1, len(lws) - 1), i ->
                               array_to_string(list_slice(lws, i, i + 2), ' '))
                       ELSE CAST([] AS VARCHAR[]) END AS gs,
                       (length(text) - length(replace(text, '#', '')))
                         + (length(text) - length(replace(text, '...', ''))) / 3
                         + (length(text) - length(replace(text, '…', ''))) AS syms,
                       len(ls) AS nl,
                       len(list_filter(ls, x -> regexp_matches(x, '^\\s*[-*•‣▪]'))) AS bl,
                       len(list_filter(ls, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS el,
                       len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS aw
                FROM w
            )
            SELECT doc_id,
                   (n >= 16 AND n <= 100000
                    AND mwl >= 3.0 AND mwl <= 10.0
                    AND sw_hits >= 2
                    AND (CASE WHEN len(gs) > 0
                              THEN 1.0 - len(list_distinct(gs)) * 1.0 / len(gs)
                              ELSE 0.0 END) < 0.2
                    AND (CASE WHEN n > 0 THEN syms * 1.0 / n ELSE 0.0 END) <= 0.1
                    AND (CASE WHEN nl > 0 THEN bl * 1.0 / nl ELSE 0.0 END) <= 0.9
                    AND (CASE WHEN nl > 0 THEN el * 1.0 / nl ELSE 0.0 END) <= 0.3
                    AND (CASE WHEN n > 0 THEN aw * 1.0 / n ELSE 1.0 END) >= 0.8) AS keep
            FROM c
        """,
"c4_filter": """
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
                FROM documents
            )
            SELECT doc_id,
                   (len(ws) >= 5
                    AND NOT contains(lower(text), 'lorem ipsum')
                    AND NOT contains(text, '{')
                    AND COALESCE(list_max(list_transform(ws, x -> length(x))), 0) <= 1000
                   ) AS keep
            FROM w
        """,
        "quality_score": """
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws,
                       list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS lws
                FROM documents
            ), c AS (
                SELECT doc_id,
                       len(ws) AS n,
                       CASE WHEN length(text) > 0
                            THEN length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
                                 * 1.0 / length(text)
                            ELSE 0.0 END AS pr,
                       CASE WHEN len(lws) > 0
                            THEN len(list_filter(lws, x -> list_contains(
                                 ['the','and','of','to','a','in','is','it','that','for'], x)))
                                 * 1.0 / len(lws)
                            ELSE 0.0 END AS swr,
                       CASE WHEN len(ws) > 0
                            THEN list_sum(list_transform(ws, x -> length(x)))
                                 * 1.0 / len(ws)
                            ELSE 0.0 END AS mwl
                FROM w
            )
            SELECT doc_id,
                   ROUND((LEAST(n / 64.0, 1.0)
                          + (1.0 - LEAST(pr * 5.0, 1.0))
                          + LEAST(swr * 4.0, 1.0)
                          + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END))
                         / 4.0, 6) AS quality
            FROM c
        """,
        "embedding_near_dups": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.5
        """,
        # fake-decoder closed form: feature i = f32(byte_i/255) * f64(1 +
        # (i%7)*0.01), stored as f32, summed as f64 — reproduced with
        # explicit REAL casts (texts are ASCII and len >= 16, so byte_i =
        # ascii(char_i) and idx%len = idx)
        "multimodal_decode": """
            SELECT doc_id,
                   ROUND(list_sum(list_transform(range(0, 16),
                       i -> CAST(CAST(CAST(CAST(ascii(substring(text, CAST(i AS INT) + 1, 1))
                                             AS REAL) / CAST(255.0 AS REAL) AS DOUBLE)
                                      * (1.0 + (i % 7) * 0.01) AS REAL) AS DOUBLE))), 4)
                     AS feat_sum
            FROM documents
        """,
        # the real WAV codec path: decoded constant-amplitude PCM has the
        # closed form floor(amp*32767)/32768
        "multimodal_decode_real": """
            SELECT doc_id,
                   ROUND(FLOOR((n_chars % 100) / 100.0 * 32767) / 32768.0, 6) AS amp_mean
            FROM documents
        """,
        # minhash_dedup's LSH recall at j>=0.8 is ~1-6e-29, so its
        # verified output equals all-pairs exact bigram jaccard >= 0.8.
        # The all-pairs form is computed via integer gram ids + an
        # equi-join intersection count (i / (|A|+|B|-i)) instead of a
        # cross join with per-pair string-list intersections: bit-
        # identical output (a pair sharing zero grams has jaccard 0 <
        # 0.8), but ~100x faster in DuckDB — the naive inequality join
        # runs single-threaded over |docs|^2 string-list ops and takes
        # tens of minutes at sf0.1.
        "minhash_dedup": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN len(ws) >= 2
                            THEN list_distinct(list_transform(range(1, len(ws)),
                                 i -> ws[i] || ' ' || ws[i+1]))
                            ELSE [] END AS s
                FROM w
            ), ex AS (
                SELECT doc_id, unnest(s) AS g FROM sh
            ), dict AS (
                SELECT g, CAST(row_number() OVER (ORDER BY g) - 1 AS INT) AS gid
                FROM (SELECT DISTINCT g FROM ex)
            ), ex2 AS (
                SELECT e.doc_id, d.gid FROM ex e JOIN dict d USING (g)
            ), n AS (
                SELECT doc_id, count(*) AS nset FROM ex2 GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                FROM ex2 a JOIN ex2 b ON a.gid = b.gid AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), pairs AS (
                SELECT t.id_a, t.id_b,
                       t.i * 1.0 / (na.nset + nb.nset - t.i) AS jaccard
                FROM inter t
                JOIN n na ON na.doc_id = t.id_a
                JOIN n nb ON nb.doc_id = t.id_b
            )
            SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard
            FROM pairs WHERE jaccard >= 0.8
        """,
    }
