"""The four seeded workloads.

Every input is made from ``--seed`` by the library's own generators
(``tokenized_sequences``, ``feature_events``) plus columns derived from
them with Spark expressions, written to parquet under the run's
directory and read back, so the engine only ever sees generated tables.
Sizes are fixed per workload; the seed changes the values, never the
shape.

Each workload has:

* ``prepare(seed)`` - fixture preparation (part of set-up);
* ``iterate(tr, keep)`` - one iteration through the public API.  It
  raises on a failed per-iteration check.  ``tr`` is a
  :class:`harness.Tracer`; its spans sit around the public calls.  The
  warm-up passes ``keep=True`` to hold its output for ``check``;
* ``check(con)`` - the once-per-run, untimed output check against an
  independent DuckDB reference (``reference.py``); returns problems;
* ``properties(con)`` - input properties (rows, bytes, tokens, skew).
"""

from __future__ import annotations

import os
import shutil
from typing import Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from torchestra_spark import (
    CheckpointedWriter,
    CountLookup,
    Feature,
    FeatureStore,
    IndexLookup,
    MinMaxScale,
    Pipeline,
    RatioLookup,
    RobustScale,
    StandardScore,
    TDigestDistribution,
)
from torchestra_spark.functions.dedup import (
    build_contamination_index,
    mark_contaminated_indexed,
    near_dup_report,
    release_pinned,
)
from torchestra_spark.io.sources import feature_events, tokenized_sequences
from torchestra_spark.operators.sequences import (
    SparseMapSequences,
    SparseTruncPad,
    pack_sequences,
)
from torchestra_spark.operators.temporal import DEFAULT_SALT_THRESHOLD, asof_join

import reference

EPOCH_S = 1767225600  # 2026-01-01T00:00:00Z, the feature_events start
DAYS = 30


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write(df: DataFrame, path: str) -> DataFrame:
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _probe(
    spark: SparkSession, n_rows: int, n_entities: int, seed: int,
    hot_share: float = 0.0, n_hot: int = 0,
) -> DataFrame:
    """Tokenized documents with an entity and an event time derived
    from a seeded hash of ``doc_id``.  With ``hot_share`` that share of
    rows is moved onto entities ``0 .. n_hot-1``."""
    parts = 2 * spark.sparkContext.defaultParallelism
    toks = tokenized_sequences(spark, n_rows, seed=seed, partitions=parts)
    user = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(n_entities))
    if hot_share:
        is_hot = F.pmod(F.xxhash64("doc_id", F.lit(seed + 2)), F.lit(10_000)) < int(hot_share * 10_000)
        user = F.when(is_hot, F.pmod(F.xxhash64("doc_id", F.lit(seed + 3)), F.lit(n_hot))).otherwise(user)
    ts = F.timestamp_seconds(
        F.lit(EPOCH_S) + F.pmod(F.xxhash64("doc_id", F.lit(seed + 1)), F.lit(DAYS * 86400))
    )
    return toks.withColumn("user_id", user).withColumn("ts", ts)


def _features(spark: SparkSession, n_entities: int, seed: int) -> DataFrame:
    return feature_events(
        spark, n_entities=n_entities, mean_events=10.0, seed=seed,
        partitions=spark.sparkContext.defaultParallelism,
    )


def _trace_pipeline(pipe: Pipeline, tr) -> None:
    """Span the pipeline's fit and transform calls, also when another
    public call (``FeatureStore.build``, ``fit_transform``) makes them."""
    fit, transform = pipe.fit, pipe.transform

    def traced_fit(df):
        with tr.span("pipeline.fit_s", jobs="pipeline.fit_jobs"):
            return fit(df)

    def traced_transform(df, **kw):
        with tr.span("pipeline.transform_s"):
            return transform(df, **kw)

    pipe.fit, pipe.transform = traced_fit, traced_transform


class Workload:
    name = ""
    # untimed warm-up iterations in set-up, then at least this many timed
    # ones: fixed counts, so every run measures the same point of the
    # JVM's warm-up (iterations speed up for several more after the
    # first, as the JIT compiles the engine's hot paths)
    WARMUP = 1
    TIMED = 4

    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.fx_dir = os.path.join(run_dir, "fx")
        self.out_dir = os.path.join(run_dir, "out")
        self.tables: Dict[str, str] = {}  # fixture name -> parquet dir
        self.kept: Dict[str, str] = {}  # output name -> parquet dir, for check

    def _fixture(self, name: str, df: DataFrame) -> DataFrame:
        path = os.path.join(self.fx_dir, name)
        self.tables[name] = path
        return _write(df, path)

    def _sink(self, name: str, df: DataFrame, keep: bool) -> None:
        """A noop sink in timed iterations; a parquet copy for the
        output check when ``keep``."""
        if keep:
            self.kept[name] = path = os.path.join(self.out_dir, name)
            df.write.mode("overwrite").parquet(path)
        else:
            _noop(df)

    def input_rows(self) -> int:
        raise NotImplementedError

    def prepare(self, seed: int) -> None:
        raise NotImplementedError

    def iterate(self, tr, keep: bool = False) -> None:
        """One iteration; ``keep`` asks to hold on to what ``check``
        can reuse instead of recomputing it."""
        raise NotImplementedError

    def check(self, con) -> List[str]:
        raise NotImplementedError

    def properties(self, con) -> Dict[str, float]:
        raise NotImplementedError

    def _base_properties(self, con, docs: str) -> Dict[str, float]:
        rows, mean_tok = con.execute(
            f"SELECT count(*), avg(n_tok) FROM {reference.scan(self.tables[docs])}"
        ).fetchone()
        return {
            "input.rows": float(rows),
            "input.bytes": float(sum(_dir_bytes(p) for p in self.tables.values())),
            "input.mean_tokens_per_doc": float(mean_tok),
            "input.entities": 0.0,
            "input.feature_rows_per_entity": 0.0,
            "input.hot_row_share": 0.0,
        }

    def _entity_properties(self, con, threshold: int) -> Dict[str, float]:
        probe = reference.scan(self.tables["probe"])
        feat = reference.scan(self.tables["feat"])
        entities, hot_rows, rows = con.execute(
            f"""SELECT count(*), sum(CASE WHEN n >= {int(threshold)} THEN n ELSE 0 END), sum(n)
                FROM (SELECT user_id, count(*) AS n FROM {probe} GROUP BY user_id)"""
        ).fetchone()
        frows, fents = con.execute(f"SELECT count(*), count(DISTINCT user_id) FROM {feat}").fetchone()
        return {
            "input.entities": float(entities),
            "input.feature_rows_per_entity": frows / max(fents, 1),
            "input.hot_row_share": float(hot_rows) / float(rows),
        }


# ------------------------------------------------------------------ pit_build
class PitBuild(Workload):
    """The FeatureStore flow of featurestore.py's docstring, written
    with ``materialize`` at its default buckets and waves."""

    name = "pit_build"
    TIMED = 3
    N_PROBE = 100_000
    N_ENTITIES = 500
    SESSION_GAP_S = 6 * 3600.0
    n_writes = 0  # iterations so far; each writes its own directory

    def input_rows(self) -> int:
        return self.N_PROBE

    def prepare(self, seed: int) -> None:
        self.probe = self._fixture("probe", _probe(self.spark, self.N_PROBE, self.N_ENTITIES, seed))
        self.feat = self._fixture("feat", _features(self.spark, self.N_ENTITIES, seed))

    def _feature_tables(self) -> List[DataFrame]:
        return [
            self.feat.select(
                "user_id",
                (F.col("feature_ts") + F.expr(f"INTERVAL {7 * i} SECONDS")).alias("feature_ts"),
                (F.col("fval") * (i + 1)).alias(f"v{i}"),
            )
            for i in range(3)
        ]

    def store(self):
        ops = {"z": StandardScore(), "idx": IndexLookup(), "q": TDigestDistribution()}
        pipe = Pipeline(
            {
                "n_tok_z": Feature("n_tok", [ops["z"]]),
                "source_idx": Feature("source", [ops["idx"]]),
                "n_tok_q": Feature("n_tok", [ops["q"]]),
            }
        )
        store = FeatureStore(entity="user_id", ts="ts", order_tiebreak="doc_id")
        for i, ft in enumerate(self._feature_tables()):
            store.add_feature_table(ft, ts="feature_ts", name=f"f{i}")
        store.add_lags("n_tok", lags=(1,))
        store.add_fill_forward("v0")
        store.add_sessionization(gap_sec=self.SESSION_GAP_S)
        store.add_pipeline(pipe)
        return store, pipe, ops

    def build_and_write(self, tr, path: str):
        store, pipe, ops = self.store()
        _trace_pipeline(pipe, tr)
        with tr.span("featurestore.build_s", jobs="featurestore.build_jobs"):
            built = store.build(self.probe, fit=True)
        with tr.span("featurestore.materialize_s"):
            store.materialize(built, path)
        return store, ops

    def iterate(self, tr, keep: bool = False) -> None:
        # every iteration writes a fresh directory; none is deleted while
        # the run times iterations (the run directory goes at exit)
        self.n_writes += 1
        path = os.path.join(self.out_dir, f"pit-{self.n_writes}")
        store, ops = self.build_and_write(tr, path)
        written = CheckpointedWriter(path, key_col="user_id").metrics()
        rows = sum(m["rows"] for m in written)
        tr.add("checkpoint.rows_written", rows)
        tr.add("checkpoint.bytes_written", sum(m["bytes"] for m in written))
        if rows != self.N_PROBE:
            raise AssertionError(f"materialized {rows} rows, expected {self.N_PROBE}")
        if keep:
            self.kept_build = (store, ops, path)

    def check(self, con) -> List[str]:
        store, ops, path = self.kept_build
        problems = []
        try:
            # on what was written, which is also cheaper than the plan
            store.assert_leakage_free(self.spark.read.parquet(path))
        except AssertionError as e:
            problems.append(f"pit_build: {e}")
        problems += reference.check_pit_build(
            con, self.tables["probe"], self.tables["feat"], path, self.N_PROBE,
            self.SESSION_GAP_S, ops,
        )
        shutil.rmtree(path, ignore_errors=True)
        return problems

    def properties(self, con) -> Dict[str, float]:
        props = self._base_properties(con, "probe")
        props.update(self._entity_properties(con, DEFAULT_SALT_THRESHOLD))
        return props


# ---------------------------------------------------------------- asof_skewed
class AsofSkewed(Workload):
    """Skewed probe side joined twice per iteration: library defaults
    (auto -> broadcast kernel), then with skew declared (salting)."""

    name = "asof_skewed"
    WARMUP = 2
    TIMED = 5
    N_PROBE = 200_000
    N_ENTITIES = 20_000
    HOT_SHARE = 0.3
    N_HOT = 4
    SALT_BUCKETS = 4

    def __init__(self, spark: SparkSession, run_dir: str):
        super().__init__(spark, run_dir)
        self.plans: Dict[str, str] = {}  # executed plan per join path, for check

    @property
    def salt_threshold(self) -> int:
        # half the expected rows of one hot entity: every hot entity is
        # above it, every uniform entity far below
        return int(self.N_PROBE * self.HOT_SHARE / self.N_HOT / 2)

    def input_rows(self) -> int:
        return 2 * self.N_PROBE  # the probe side goes through two joins

    def prepare(self, seed: int) -> None:
        self.probe = self._fixture(
            "probe",
            _probe(self.spark, self.N_PROBE, self.N_ENTITIES, seed, self.HOT_SHARE, self.N_HOT),
        )
        self.feat = self._fixture("feat", _features(self.spark, self.N_ENTITIES, seed))

    def joins(self, tr):
        kw = dict(on="user_id", left_ts="ts", right_ts="feature_ts", value_cols=["fval"])
        with tr.span("temporal.asof_call_s", jobs="temporal.asof_call_jobs"):
            default = asof_join(self.probe, self.feat, **kw)
        yield "broadcast", default
        with tr.span("temporal.asof_call_s", jobs="temporal.asof_call_jobs"):
            salted = asof_join(
                self.probe, self.feat, salt_buckets=self.SALT_BUCKETS,
                salt_threshold=self.salt_threshold, **kw,
            )
        yield "salted", salted

    def iterate(self, tr, keep: bool = False) -> None:
        for kind, out in self.joins(tr):
            with tr.span(f"temporal.exec_s.{kind}"):
                self._sink(kind, out, keep)
            if keep:
                self.plans[kind] = out._jdf.queryExecution().executedPlan().toString()

    def check(self, con) -> List[str]:
        problems = []
        for kind, marker in (("broadcast", "ArrowEvalPython"), ("salted", "__bucket")):
            if marker not in self.plans[kind]:
                problems.append(f"asof_skewed: the {kind} join did not take its path ({marker} absent)")
        return problems + reference.check_asof(
            con, self.tables["probe"], self.tables["feat"], self.kept, self.N_PROBE
        )

    def properties(self, con) -> Dict[str, float]:
        props = self._base_properties(con, "probe")
        props.update(self._entity_properties(con, self.salt_threshold))
        return props


# ---------------------------------------------------------------- corpus_prep
class CorpusPrep(Workload):
    """Near-dup report, indexed decontamination and packing over a
    token corpus with planted exact duplicates."""

    name = "corpus_prep"
    N_DOCS = 5_000
    DUP_EVERY = 100  # one planted duplicate per this many docs
    EVAL_EVERY = 64  # eval slice: one doc in this many
    GRAM_N = 8
    BLOCK = 2048

    def input_rows(self) -> int:
        return self.n_corpus

    def prepare(self, seed: int) -> None:
        # cached: three fixtures derive from one generator pass
        docs = tokenized_sequences(
            self.spark, self.N_DOCS, seed=seed,
            partitions=2 * self.spark.sparkContext.defaultParallelism,
        ).drop("source").cache()
        dups = docs.filter(
            F.pmod(F.xxhash64("doc_id", F.lit(seed + 5)), F.lit(self.DUP_EVERY)) == 0
        ).withColumn("doc_id", F.concat(F.lit("dup-"), F.col("doc_id")))
        self.corpus = self._fixture("corpus", docs.unionByName(dups))
        self.eval = self._fixture(
            "eval",
            docs.filter(F.pmod(F.xxhash64("doc_id", F.lit(seed + 9)), F.lit(self.EVAL_EVERY)) == 0),
        )
        self.n_corpus = self.corpus.count()
        docs.unpersist()

    def iterate(self, tr, keep: bool = False) -> None:
        with tr.span("dedup.exec_s"):
            report = near_dup_report(
                self.corpus, "tokens", "doc_id", max_hamming=4, prefix_bits=20,
                tables=4, k=5, w=4, min_shared=2,
            )
            self._sink("near_dup", report, keep)
            release_pinned(report)
        with tr.span("dedup.index_build_s"):
            idx = build_contamination_index(self.eval, "tokens", n=self.GRAM_N)
        with tr.span("dedup.exec_s"):
            contam = mark_contaminated_indexed(
                self.corpus, "tokens", "doc_id", idx, n=self.GRAM_N, min_hits=1
            )
            self._sink("contam", contam, keep)
        with tr.span("sequences.pack_exec_s"):
            packed = pack_sequences(
                self.corpus.select("doc_id", "tokens"), "tokens", "doc_id", block_len=self.BLOCK
            )
            self._sink("packed", packed, keep)

    def check(self, con) -> List[str]:
        return reference.check_corpus(
            con, self.tables["corpus"], self.tables["eval"], self.kept, self.GRAM_N, self.BLOCK
        )

    def properties(self, con) -> Dict[str, float]:
        return self._base_properties(con, "corpus")


# -------------------------------------------------------------- fit_transform
class FitTransform(Workload):
    """Two-phase fit/transform on its own: one pipeline over the
    tokenized table, one over a lineitem-shaped table."""

    name = "fit_transform"
    N_DOCS = 40_000
    N_LINES = 200_000
    SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]

    def input_rows(self) -> int:
        return self.N_DOCS + self.N_LINES

    def prepare(self, seed: int) -> None:
        parts = 2 * self.spark.sparkContext.defaultParallelism
        self.docs = self._fixture(
            "docs", tokenized_sequences(self.spark, self.N_DOCS, seed=seed, partitions=parts)
        )

        def h(i):
            return F.xxhash64("doc_id", F.lit(seed + 100 + i))

        qty = (F.pmod(h(1), F.lit(50)) + 1).cast("double")
        lines = tokenized_sequences(
            self.spark, self.N_LINES, seed=seed + 1, max_len=8, partitions=parts
        ).select(
            "n_tok",
            qty.alias("l_quantity"),
            (qty * (F.lit(900.0) + F.pmod(h(2), F.lit(100_000)) / 100.0)).alias("l_extendedprice"),
            (F.pmod(h(3), F.lit(11)) / 100.0).alias("l_discount"),
            F.element_at(F.array(*map(F.lit, "ANR")), (F.pmod(h(4), F.lit(3)) + 1).cast("int")).alias("l_returnflag"),
            F.when(F.pmod(h(5), F.lit(2)) == 0, "O").otherwise("F").alias("l_linestatus"),
            F.element_at(
                F.array(*map(F.lit, self.SHIPMODES)), (F.pmod(h(6), F.lit(7)) + 1).cast("int")
            ).alias("l_shipmode"),
        )
        self.lines = self._fixture("lines", lines)

    def pipelines(self):
        """(input, pipeline, ops by output name) for both tables."""
        specs = [
            (self.docs, {
                "padded": ("tokens", SparseTruncPad(64, 0, "int")),
                "tok_sum": ("tokens", SparseMapSequences("sum")),
                "n_tok_z": ("n_tok", StandardScore()),
                "n_tok_q": ("n_tok", TDigestDistribution()),
                "source_idx": ("source", IndexLookup()),
            }),
            (self.lines, {
                "price_z": ("l_extendedprice", StandardScore()),
                "qty_mm": ("l_quantity", MinMaxScale()),
                "price_r": ("l_extendedprice", RobustScale()),
                "price_q": ("l_extendedprice", TDigestDistribution()),
                "flag_idx": ("l_returnflag", IndexLookup()),
                "status_cnt": ("l_linestatus", CountLookup()),
                "mode_ratio": ("l_shipmode", RatioLookup()),
            }),
        ]
        return [
            (df, Pipeline({k: Feature(c, [op]) for k, (c, op) in spec.items()}),
             {k: op for k, (_c, op) in spec.items()})
            for df, spec in specs
        ]

    def iterate(self, tr, keep: bool = False) -> None:
        rows, fitted = [], []
        for df, pipe, ops in self.pipelines():
            _trace_pipeline(pipe, tr)
            out = pipe.fit_transform(df)
            if keep:
                rows.append(out.count())
            else:
                _noop(out)
            fitted.append(ops)
        if keep:
            self.kept_fit = rows, fitted

    def check(self, con) -> List[str]:
        rows, (doc_ops, line_ops) = self.kept_fit
        problems = [
            f"fit_transform: pipeline {i} returned {n} rows, expected {want}"
            for i, (n, want) in enumerate(zip(rows, (self.N_DOCS, self.N_LINES)))
            if n != want
        ]
        return problems + reference.check_fit(
            con, self.tables["docs"], self.tables["lines"], doc_ops, line_ops
        )

    def properties(self, con) -> Dict[str, float]:
        return self._base_properties(con, "docs")


WORKLOADS = {w.name: w for w in (PitBuild, AsofSkewed, CorpusPrep, FitTransform)}

