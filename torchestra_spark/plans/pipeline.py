"""Pipeline composition + staged fit planner.

The reference composes ops with Sequential/Parallel into a torch.fx
graph and fits stateful ops in dependency *waves* via StatsPlan
(/root/reference/src/torchestra/_pipes.py, _stats_plan.py).  Here the
composition is a set of named **features**, each a chain of ops applied
to an input column or to another feature's output:

    Pipeline({
        "price_z":  Feature("l_extendedprice", [StandardScore(), Clamp(-4, 4)]),
        "price_q":  Feature("price_z", [TDigestDistribution()]),   # stats-behind-stats
        "seg_idx":  Feature("c_mktsegment", [IndexLookup(TopK(3))]),
    })

* chains = the reference Sequential (deps accumulate left->right,
  _stats_plan.py:35-38);
* several features rooted at the same input = the reference Parallel
  (branches share only *prior* deps, _stats_plan.py:29-33);
* a feature rooted at another feature = Sequential chaining across
  named outputs.

Fit executes one dependency wave at a time (Kahn-style, mirroring
_stats_plan.py:89-102).  Before a wave, fit stages the earlier features
the wave's ops read as columns, as transform does, so each op's input
is its chain prefix over column refs.  Within a wave everything is
batched for minimal passes over the data:

* all SCALAR_AGG fits -> **one** ``df.agg(...)`` (single scan; Catalyst
  hash aggregate does partial/merge — the reference's calculate/combine
  split);
* all VOCAB fits -> one ``groupBy`` count job: several vocabularies
  unpivot into one ``groupBy(op, key).count()`` (single shuffle for
  every vocabulary in the wave), a lone one is a plain
  ``groupBy(key).count()``; eliminators pushed as Spark predicates
  before the driver collect;
* all SKETCH fits -> one ``mapInArrow`` pass emitting one t-digest
  partial per partition, merged on the driver in partition order (the
  reference's shard merge, _normalization.py:601-613);
* all GROUPED fits -> one ``groupBy(group_col).agg(...)`` per distinct
  group column.

The jobs of a wave run in that order.

Transform compiles every feature into Column expressions applied in
dependency order — one logical projection, optimized by Catalyst into a
single whole-stage-codegen'd select (plus Arrow UDF stages where lookups
/ digests need their broadcast state).
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Callable, Dict, Iterator, List, Optional, Sequence, Set, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from torchestra_spark.core import (
    FitKind,
    FittedTransform,
    MultiTransform,
    Transform,
    type_kind,
)
from torchestra_spark.state import StateArtifact


class Feature:
    """A named chain of ops over one input reference (source column name
    or another feature's name) — or over SEVERAL references, in which
    case the first op must be a :class:`~torchestra_spark.core.
    MultiTransform` head that fuses the N inputs into one column (the
    reference's ``Parallel(into=tuple)`` + ``TupleAsArgs`` shape,
    _pipes.py:107-149, 306-336)::

        Feature(["l_extendedprice", "l_quantity"], [Ratio(), StandardScore()])

    Downstream ops (including stateful ones — the StandardScore above is
    fit over the composed ratio expression) chain on the head's single
    output exactly like a single-input feature."""

    def __init__(self, input_ref, ops: Optional[Sequence[Transform]] = None):
        self.input_refs = [input_ref] if isinstance(input_ref, str) else [str(r) for r in input_ref]
        if not self.input_refs:
            raise ValueError("Feature needs at least one input reference")
        self.ops: List[Transform] = list(ops or [])
        if len(self.input_refs) > 1:
            if not self.ops or not isinstance(self.ops[0], MultiTransform):
                raise TypeError(
                    f"multi-input Feature({self.input_refs!r}) requires a "
                    "MultiTransform head as its first op"
                )
            head = self.ops[0]
            if head.n_inputs is not None and head.n_inputs != len(self.input_refs):
                raise ValueError(
                    f"{type(head).__name__} takes {head.n_inputs} inputs but "
                    f"the Feature references {len(self.input_refs)} columns"
                )
            if isinstance(head, FittedTransform):
                raise TypeError("a MultiTransform head cannot be a FittedTransform")
        # a MultiTransform anywhere else would only surface at compose/
        # fit time as an opaque arity TypeError from expr(); reject it
        # at construction with an actionable message instead
        tail_start = 1 if len(self.input_refs) > 1 else 0
        for i, op in enumerate(self.ops[tail_start:], start=tail_start):
            if isinstance(op, MultiTransform):
                where = (
                    f"a single-input Feature({self.input_refs[0]!r})"
                    if len(self.input_refs) == 1
                    else f"position {i} of a multi-input Feature"
                )
                raise TypeError(
                    f"{type(op).__name__} is a MultiTransform and cannot sit in "
                    f"{where}: multi-input ops fuse N input references and are "
                    "only valid as the FIRST op of a multi-input Feature — "
                    "write Feature(['a', 'b'], [" + type(op).__name__ + "(), ...])"
                )

    @property
    def input_ref(self) -> str:
        """Single-input accessor (back-compat); raises on multi-input."""
        if len(self.input_refs) != 1:
            raise ValueError("multi-input Feature has no single input_ref")
        return self.input_refs[0]

    def __repr__(self) -> str:  # pragma: no cover
        refs = self.input_refs[0] if len(self.input_refs) == 1 else self.input_refs
        return f"Feature({refs!r}, {self.ops!r})"


def combine_features(*feature_sets: Dict[str, Feature]) -> Dict[str, Feature]:
    """Merge feature sets into one Pipeline spec, raising on output-name
    collisions — the reference's CombineDicts (merging parallel branch
    outputs with a duplicate-key assertion, _debugging.py:26-42).  Use
    it to assemble a Pipeline from independently-authored feature
    groups::

        Pipeline(combine_features(price_features, category_features))
    """
    out: Dict[str, Feature] = {}
    for fs in feature_sets:
        for name, feat in fs.items():
            if name in out:
                raise ValueError(
                    f"duplicate feature name {name!r} when combining feature sets"
                )
            out[name] = feat
    return out


def _params_close(a: Any, b: Any, rtol: float) -> bool:
    """Structural comparison of two op get_state() payloads: floats
    within rtol (nan == nan), containers recursively, everything else
    exact — decides whether an upstream op's parameters 'changed' for
    the multi-wave fit_update safety check."""
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if np.isnan(fa) or np.isnan(fb):
            return np.isnan(fa) and np.isnan(fb)
        return bool(np.isclose(fa, fb, rtol=rtol, atol=0.0))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_params_close(a[k], b[k], rtol) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_params_close(x, y, rtol) for x, y in zip(a, b))
    return a == b


class Pipeline:
    def __init__(self, features: Dict[str, Feature]):
        self.features = dict(features)
        # dependency map: stats-op path -> set of upstream stats-op paths
        # (reference StatsPlan.dependencies, _stats_plan.py:20-48)
        self.dependencies = self._stats_dependencies()
        self.stats_op_paths = list(self.dependencies.keys())
        self.waves = list(self._build_waves())

    # ------------------------------------------------------------- structure
    def _op(self, path: str) -> Transform:
        name, _, idx = path.rpartition(".")
        return self.features[name].ops[int(idx)]

    def _feature_order(self) -> List[str]:
        """Features in dependency order (inputs first) — the one DFS over
        the (possibly multi-parent) feature graph; raises on a cycle."""
        done: Dict[str, None] = {}  # insertion-ordered set
        visiting: Set[str] = set()

        def visit(name: str) -> None:
            if name in done:
                return
            if name in visiting:
                raise ValueError(f"feature cycle through {name!r}")
            visiting.add(name)
            for ref in self.features[name].input_refs:
                if ref in self.features:
                    visit(ref)
            visiting.discard(name)
            done[name] = None

        for name in self.features:
            visit(name)
        return list(done)

    def _stats_dependencies(self) -> Dict[str, Set[str]]:
        """One pass over the feature order: each feature's set of stats
        paths upstream of (and in) it is built once from its inputs'
        sets, so a DAG of diamonds costs linear, not exponential, time.
        Keyed in ``self.features`` order, ops in chain order."""
        upstream: Dict[str, Set[str]] = {}
        own: Dict[str, Dict[str, Set[str]]] = {}
        for name in self._feature_order():
            feat = self.features[name]
            chain = set().union(*(upstream[r] for r in feat.input_refs if r in self.features))
            own[name] = {}
            for i, op in enumerate(feat.ops):
                if isinstance(op, FittedTransform):
                    own[name][f"{name}.{i}"] = set(chain)
                    chain.add(f"{name}.{i}")
            upstream[name] = chain
        return {path: deps for name in self.features for path, deps in own[name].items()}

    def _build_waves(self) -> Iterator[List[str]]:
        # Kahn-style waves, reference _stats_plan.py:89-102
        resolved: Set[str] = set()
        while len(resolved) < len(self.stats_op_paths):
            wave = [
                p
                for p in self.stats_op_paths
                if p not in resolved and self.dependencies[p].issubset(resolved)
            ]
            if not wave:  # pragma: no cover - cycle guard
                raise RuntimeError("unresolvable stats dependencies")
            resolved.update(wave)
            yield wave

    # ---------------------------------------------------------- expressions
    @staticmethod
    def _chain(feat: Feature, ref_col: Callable[[str], Column], upto: Optional[int] = None) -> Column:
        """Apply a feature's op chain (its first ``upto`` ops) to its
        inputs, each resolved by ``ref_col``: a multi-input head fuses
        the N inputs, the tail ops chain on its single output."""
        ops = feat.ops if upto is None else feat.ops[:upto]
        cols = [ref_col(r) for r in feat.input_refs]
        if len(cols) > 1:
            col, ops = ops[0].expr(*cols), ops[1:]
        else:
            col = cols[0]
        for op in ops:
            col = op.expr(col)
        return col

    def _stage(self, df: DataFrame, names: Sequence[str]) -> DataFrame:
        """``df`` with each named feature (fitted, in feature order) added
        as a column; a ref to an earlier feature reads its column, so
        each chain is built once."""
        for name in names:
            df = df.withColumn(name, self._chain(self.features[name], F.col))
        return df

    def output_expr(self, name: str) -> Column:
        """Fully-composed expression for a feature (requires fit).  The
        Column inlines every upstream feature's whole chain, once per path
        to it, so it grows exponentially on feature diamonds; ``fit`` and
        ``transform`` stage features as columns instead."""
        return self._chain(
            self.features[name], lambda r: self.output_expr(r) if r in self.features else F.col(r)
        )

    # ------------------------------------------------------------ bind check
    def validate_schema(self, schema) -> None:
        """Bind-time composition check (the reference asserts adjacent
        modules' input/output type annotations at composition,
        _pipes.py:143-146): every feature's source column must exist,
        and each op's declared ``input_kinds`` must accept the kind
        flowing into it.  Raises before any Spark job runs."""
        field_names = set(schema.fieldNames())
        kinds: Dict[str, str] = {}
        for name in self._feature_order():
            feat = self.features[name]

            def ref_kind(ref: str) -> str:
                if ref in self.features:
                    return kinds[ref]
                if ref in field_names:
                    return type_kind(schema[ref].dataType)
                raise ValueError(
                    f"feature {name!r}: input {ref!r} is neither a feature nor a "
                    f"column of the input schema {sorted(field_names)}"
                )

            if len(feat.input_refs) > 1:
                head = feat.ops[0]
                accepted = getattr(head, "input_kinds", None)
                for ref in feat.input_refs:
                    k = ref_kind(ref)
                    if accepted and k != "unknown" and k not in accepted:
                        raise TypeError(
                            f"feature {name!r} head ({type(head).__name__}) "
                            f"accepts {accepted} but input {ref!r} is {k!r}"
                        )
                kind = getattr(head, "output_kind", None) or "unknown"
                rest = list(enumerate(feat.ops))[1:]
            else:
                kind = ref_kind(feat.input_refs[0])
                rest = list(enumerate(feat.ops))
            for i, op in rest:
                accepted = getattr(op, "input_kinds", None)
                if accepted and kind != "unknown" and kind not in accepted:
                    raise TypeError(
                        f"feature {name!r} op {i} ({type(op).__name__}) accepts "
                        f"{accepted} but receives {kind!r} "
                        f"(from {feat.input_refs!r})"
                    )
                kind = getattr(op, "output_kind", None) or kind
            kinds[name] = kind

    # ----------------------------------------------------------------- fit
    def fit(self, df: DataFrame) -> "Pipeline":
        return self._fit(df, update=False)

    def fit_update(self, df: DataFrame, upstream_rtol: float = 0.0) -> "Pipeline":
        """Incremental refit: collect this delta's statistics and merge
        them into the previous fit via each op's ``merge_stats`` — the
        reference's combine_stats shard merge applied across fit calls
        (daily feature-store refresh without rescanning history).

        Exactness: scalar moments and NoThreshold vocabularies merge
        exactly; t-digest merges within sketch tolerance; pruning
        eliminators re-prune the merged dict (per-fit pushdown pruning
        makes cross-delta threshold crossings approximate); exact
        percentiles raise.

        Stats-behind-stats chains (multi-wave) are refit-safe ONLY when
        the upstream ops' parameters come out of the delta merge
        unchanged (within ``upstream_rtol`` for numeric params): the
        downstream delta statistics are then computed under the same
        upstream transform the historical statistics used, so the merge
        stays exact.  That is the common daily-refresh shape — a frozen
        vocabulary / saturated quantile sketch upstream, rolling counts
        or moments downstream.  If an upstream op's parameters DID
        change, merging downstream would silently mix statistics
        measured under two different transforms, so this raises an
        actionable error instead (run a full ``fit`` over history, or
        pass a larger ``upstream_rtol`` to accept the drift as an
        approximation — the error bound on downstream moments is then
        O(rtol) of the upstream param shift)."""
        return self._fit(df, update=True, upstream_rtol=upstream_rtol)

    def _fit(self, df: DataFrame, update: bool, upstream_rtol: float = 0.0) -> "Pipeline":
        """Fit, or delta-merge, wave by wave.  Before each wave the
        features its ops read, transitively, are staged onto ``df``: each
        at most once per call, and only after the waves that fit it."""
        self.validate_schema(df.schema)
        order = self._feature_order()
        upstream = set().union(*self.dependencies.values())
        staged: Set[str] = set()
        changed: Set[str] = set()
        for wave in self.waves:
            for p in wave:
                bad = sorted(self.dependencies[p] & changed)
                if bad:
                    raise ValueError(
                        f"fit_update: op {p!r} depends on {bad}, whose parameters "
                        f"changed in this delta (beyond upstream_rtol="
                        f"{upstream_rtol}); its historical statistics were "
                        "measured under the OLD upstream transform and cannot "
                        "be merged exactly. Run a full fit() over history, or "
                        "raise upstream_rtol to accept the approximation. "
                        "NOTE: earlier waves of this pipeline have already "
                        "been delta-merged."
                    )
            reads = {r for p in wave for r in self.features[p.rpartition(".")[0]].input_refs}
            for name in reversed(order):  # consumers before their inputs
                if name in reads:
                    reads.update(self.features[name].input_refs)
            new = [n for n in order if n in reads and n not in staged]
            df = self._stage(df, new)
            staged.update(new)
            is_upstream = [p for p in wave if update and p in upstream]
            before = {p: self._op(p).get_state() for p in is_upstream}
            self._fit_wave(df, wave, update)
            changed |= {
                p
                for p in is_upstream
                if not _params_close(before[p], self._op(p).get_state(), upstream_rtol)
            }
        return self

    @staticmethod
    def _finalize(op: FittedTransform, stats: Any, update: bool) -> None:
        if update:
            prev = getattr(op, "_raw_stats", None)
            if prev is None:
                raise RuntimeError(
                    f"{type(op).__name__}: fit_update requires a prior fit in "
                    "this process (raw statistics are not persisted in state)"
                )
            stats = op.merge_stats(prev, stats)
        op._raw_stats = stats
        op.fit_finalize(stats)

    def fit_transform(self, df: DataFrame, keep_input: bool = True) -> DataFrame:
        return self.fit(df).transform(df, keep_input=keep_input)

    def _fit_wave(self, df: DataFrame, wave: List[str], update: bool = False) -> None:
        # one batched job per fit kind, run in this order
        jobs = {
            FitKind.SCALAR_AGG: self._fit_scalar,
            FitKind.VOCAB: self._fit_vocab,
            FitKind.SKETCH: self._fit_sketch,
            FitKind.GROUPED: self._fit_grouped,
        }
        by_kind: Dict[FitKind, List[Tuple[str, FittedTransform, Column]]] = {k: [] for k in jobs}
        for path in wave:
            op = self._op(path)
            assert isinstance(op, FittedTransform)
            name, _, idx = path.rpartition(".")
            col = self._chain(self.features[name], F.col, upto=int(idx))
            by_kind[op.fit_kind].append((path, op, col))
        for kind, fit in jobs.items():
            if by_kind[kind]:
                fit(df, by_kind[kind], update)

    @staticmethod
    def _aggregates(
        ops: List[Tuple[str, FittedTransform, Column]]
    ) -> Tuple[List[Column], Callable[[Any], List[Dict[str, Any]]]]:
        """Every op's ``fit_aggs`` as one aliased aggregate list, and an
        unpacker from a result row to each op's stats dict (op order)."""
        aggs: List[Column] = []
        names: List[List[str]] = []
        for j, (_path, op, col) in enumerate(ops):
            stats = op.fit_aggs(col)
            aggs += [agg.alias(f"s{j}__{n}") for n, agg in stats.items()]
            names.append(list(stats))

        def unpack(row: Any) -> List[Dict[str, Any]]:
            return [{n: row[f"s{j}__{n}"] for n in ns} for j, ns in enumerate(names)]

        return aggs, unpack

    @staticmethod
    def _fit_scalar(df: DataFrame, ops: List[Tuple[str, FittedTransform, Column]], update: bool = False) -> None:
        """One df.agg for every scalar-stat op in the wave (shared scan)."""
        aggs, unpack = Pipeline._aggregates(ops)
        for (_path, op, _col), stats in zip(ops, unpack(df.agg(*aggs).collect()[0])):
            Pipeline._finalize(op, stats, update)

    # Hard ceiling on vocabulary rows collected to the driver: above
    # this, a fit would OOM the driver silently — raise an actionable
    # error instead (add a TopK/MinThreshold eliminator).  Override via
    # SPARK_GRAFT_MAX_VOCAB.
    _MAX_VOCAB = int(__import__("os").environ.get("SPARK_GRAFT_MAX_VOCAB", 10_000_000))

    @staticmethod
    def _collect_vocab(
        df: DataFrame,
        what: str,
        remedy: str = "Add an eliminator (TopK / MinThreshold / RatioThreshold) "
        "or raise SPARK_GRAFT_MAX_VOCAB.",
    ) -> list:
        cap = Pipeline._MAX_VOCAB
        rows = df.limit(cap + 1).collect()
        if len(rows) > cap:
            raise RuntimeError(
                f"{what}: vocabulary exceeds {cap} keys — the driver cannot hold it.  {remedy}"
            )
        return rows

    @staticmethod
    def _fit_vocab(df: DataFrame, ops: List[Tuple[str, FittedTransform, Column]], update: bool = False) -> None:
        """One unpivot + groupBy job for every vocabulary in the wave;
        eliminators applied Spark-side before the collect.  A lone
        vocabulary skips the unpivot (plain groupBy, no explode)."""
        if len(ops) == 1:
            _path, op, col = ops[0]
            counts = (
                df.select(op.vocab_key(df, col).alias("key"))
                .filter(F.col("key").isNotNull())
                .groupBy("key")
                .agg(F.count("*").alias("cnt"))
            )
            rows = Pipeline._collect_vocab(
                op.eliminator.prune_spark(counts, "key", "cnt"), _path
            )
            Pipeline._finalize(op, {r["key"]: r["cnt"] for r in rows}, update)
            return
        structs = [
            F.struct(F.lit(j).alias("op"), op.vocab_key(df, col).alias("key"))
            for j, (_p, op, col) in enumerate(ops)
        ]
        pairs = df.select(F.explode(F.array(*structs)).alias("kv")).select("kv.op", "kv.key")
        counts = (
            pairs.filter(F.col("key").isNotNull()).groupBy("op", "key").agg(F.count("*").alias("cnt"))
        )
        counts.persist()
        try:
            pruned = [
                op.eliminator.prune_spark(counts.filter(F.col("op") == j), "key", "cnt")
                for j, (_path, op, _col) in enumerate(ops)
            ]
            rows = Pipeline._collect_vocab(reduce(DataFrame.unionAll, pruned), "vocab wave")
        finally:
            counts.unpersist()
        by_op: Dict[int, Dict[str, int]] = {j: {} for j in range(len(ops))}
        for r in rows:
            by_op[r["op"]][r["key"]] = r["cnt"]
        for j, (_path, op, _col) in enumerate(ops):
            Pipeline._finalize(op, by_op[j], update)

    @staticmethod
    def _fit_grouped(
        df: DataFrame, ops: List[Tuple[str, FittedTransform, Column]], update: bool = False
    ) -> None:
        """Per-group scalar fits: ONE groupBy(group_col).agg per distinct
        group column (all ops sharing a group column share the scan and
        the shuffle); collected dicts are bounded by the same cap as
        vocabularies (a group column IS a vocabulary)."""
        by_group: Dict[str, List[Tuple[str, FittedTransform, Column]]] = {}
        for path, op, col in ops:
            by_group.setdefault(op.group_col, []).append((path, op, col))
        for gcol, group_ops in by_group.items():
            aggs, unpack = Pipeline._aggregates(group_ops)
            rows = Pipeline._collect_vocab(
                df.groupBy(F.col(gcol).cast("string").alias("__g")).agg(*aggs),
                f"grouped fit on group column {gcol!r}",
                "Raise SPARK_GRAFT_MAX_VOCAB.",
            )
            per_group = [(r["__g"], unpack(r)) for r in rows if r["__g"] is not None]
            for j, (_path, op, _col) in enumerate(group_ops):
                Pipeline._finalize(op, {g: stats[j] for g, stats in per_group}, update)

    # above this many input partitions, per-partition sketch partials are
    # tree-merged executor-side into <= this many runs before the driver
    # collect — the collect stays O(FANIN * 2*compression) rows no matter
    # how many partitions the 100 TB scan has
    _SKETCH_FANIN = 64

    @staticmethod
    def _fit_sketch(df: DataFrame, ops: List[Tuple[str, FittedTransform, Column]], update: bool = False) -> None:
        """One mapInArrow pass -> one t-digest partial per (sketch op,
        partition) of the wave, as one row of centroid arrays;
        contiguous partition runs are merged executor-side when the
        partition count is large (deterministic: runs merge in partition
        order, like the reference's sequential shard merge); driver
        merge in run order."""
        from pyspark import TaskContext

        sketchers = [op for (_p, op, _c) in ops]
        sel = df.select(*[col.cast("double").alias(f"c{j}") for j, (_p, _o, col) in enumerate(ops)])
        # A small/single-file table would run the WHOLE sketch on one
        # task (r8: a single-row-group parquet cannot split, so the fit
        # was serial).  ``sel`` is just the cast doubles — a 1-to-N
        # round-robin shuffle of it is ~16 B/row and unlocks a fully
        # parallel fit; a no-op at scale where scans carry >> cores
        # partitions.  Digest partials differ by partitioning (as they
        # already do across input layouts); the merge discipline and the
        # sketch's checked accuracy tolerance are partition-independent.
        from torchestra_spark.functions.dedup import _ensure_parallelism

        sel = _ensure_parallelism(sel)
        n_ops = len(ops)

        def partials(pid: int, digests: List[tuple]) -> pa.RecordBatch:
            # one row per (op, digest); an empty digest (all-NULL input)
            # contributes no partial
            keep = [(j, d) for j, d in digests if d.n_processed]
            lists = pa.list_(pa.float64())
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([j for j, _d in keep], pa.int32()),
                    pa.array([pid] * len(keep), pa.int32()),
                    pa.array([d.processed_means[: d.n_processed] for _j, d in keep], lists),
                    pa.array([d.processed_weights[: d.n_processed] for _j, d in keep], lists),
                ],
                ["op", "pid", "means", "weights"],
            )

        def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else 0
            cols: List[List[np.ndarray]] = [[] for _ in range(n_ops)]
            for b in batches:
                for j in range(n_ops):
                    # a NULL input reads as NaN, which partial_sketch drops
                    cols[j].append(b.column(j).to_numpy(zero_copy_only=False))
            yield partials(pid, [
                (j, sketchers[j].partial_sketch(np.concatenate(cols[j] or [np.empty(0)])))
                for j in range(n_ops)
            ])

        partial_schema = "op int, pid int, means array<double>, weights array<double>"
        rows_df = sel.mapInArrow(build, partial_schema)

        n_parts = sel.rdd.getNumPartitions()
        if n_parts > Pipeline._SKETCH_FANIN:
            group_size = int(np.ceil(n_parts / Pipeline._SKETCH_FANIN))

            def merge_run(key: tuple, tbl: pa.Table) -> pa.Table:
                # one (op, gid) group = a contiguous pid run; merge its
                # digests in pid order, emit one digest
                j, gid = (k.as_py() for k in key)
                td = sketchers[j]._td
                t = td.new_digest()
                tbl = tbl.sort_by("pid")
                for m, w in zip(tbl["means"].to_numpy(), tbl["weights"].to_numpy()):
                    td.merge_digests(t, td.from_centroids(m, w))
                td._process(t)
                return pa.Table.from_batches([partials(gid, [(j, t)])])

            rows_df = (
                rows_df.withColumn("gid", (F.col("pid") / group_size).cast("int"))
                .groupBy("op", "gid")
                .applyInArrow(merge_run, partial_schema)
            )

        # Arrow transfer (r8): a Row-based collect of the partials plus
        # a Python row loop was the slow half of the fit once the sketch
        # pass itself ran parallel.  Partials merge in pid order, the
        # reference's shard-merge order.
        tbl = rows_df.toArrow().sort_by("pid")
        op_ids = tbl["op"].to_numpy()
        means, weights = tbl["means"].to_numpy(), tbl["weights"].to_numpy()
        for j, (_path, op, _col) in enumerate(ops):
            rows = np.flatnonzero(op_ids == j)
            Pipeline._finalize(op, [op._td.from_centroids(means[i], weights[i]) for i in rows], update)

    # ------------------------------------------------------------ transform
    def transform(self, df: DataFrame, keep_input: bool = True) -> DataFrame:
        """Dependency-ordered withColumns; Catalyst collapses the
        projections into one select, and its ExtractPythonUDFs rule
        batches all independent Arrow UDFs at that level into ONE
        ArrowEvalPython stage — k lookups share a single Arrow crossing
        with no engine-side fusion (see
        tests/test_pipeline_plan.py::test_transform_single_arrow_stage).
        A lookup that reads another UDF's output lands in a later
        projection and so in its own ArrowEvalPython stage."""
        self.validate_schema(df.schema)
        order = self._feature_order()
        df = self._stage(df, order)
        if not keep_input:
            df = df.select(*order)
        return df

    # ---------------------------------------------------------------- state
    def save_state(self, path: str) -> None:
        StateArtifact({p: self._op(p).get_state() for p in self.stats_op_paths}).save(path)

    def load_state(self, path: str) -> "Pipeline":
        artifact = StateArtifact.load(path)
        for op_path, state in artifact.states.items():
            op = self._op(op_path)
            op.set_state(state)
        return self
