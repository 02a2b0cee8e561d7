"""Normalization / scaling operators.

Semantics from /root/reference/src/torchestra/_normalization.py; the fit
statistics run as Catalyst aggregates (one shared ``df.agg`` per fit
wave — Spark's hash aggregate already does the partial/merge split the
reference implements by hand in ``calculate_stats``/``combine_stats``),
and the transforms are pure Column expressions folded with literal
fitted parameters, so the hot path stays in whole-stage codegen.

The t-digest family (TDigestDistribution, RobustScale) can't use a
built-in aggregate (Spark's approx_percentile is a different sketch, not
allclose-compatible) — they fit via per-partition numpy sketches in
``mapInArrow`` and a deterministic driver merge; see FitKind.SKETCH.

All statistics are float64, like the reference
(_normalization.py:20-21,107-108,192-193).
"""

from __future__ import annotations

import math
from typing import Any, Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from torchestra_spark.core import FitKind, FittedTransform, Transform
from torchestra_spark.tdigest import (
    DigestState,
    TDigest,
    digest_from_state,
    digest_to_state,
)


def _stat(stats: Dict[str, Any], key: str) -> float:
    """Collected aggregate -> float; empty/all-NULL columns aggregate to
    SQL NULL (None) and degrade to nan, like the reference on empty
    shards (_normalization.py: stats over zero rows)."""
    v = stats.get(key)
    return float("nan") if v is None else float(v)


def _std(n: Any, var_pop: Any, ddof: int) -> float:
    """std with ``ddof`` from collected (n, var_pop): sqrt(sum((x-mean)^2)
    / (n - ddof)) (_normalization.py:208) as var_pop * n / (n - ddof);
    nan when n <= ddof."""
    n = int(n) if n is not None else 0
    var_pop = float(var_pop) if var_pop is not None else 0.0
    return math.sqrt(var_pop * n / (n - ddof)) if n > ddof else float("nan")


def _merge_extreme(a: Any, b: Any, pick) -> Any:
    """Merge two min/max aggregates where either may be SQL NULL."""
    if a is None:
        return b
    if b is None:
        return a
    return pick(a, b)


def _merge_moment_stats(
    old: Dict[str, Any], new: Dict[str, Any], with_var: bool
) -> Dict[str, Any]:
    """Chan et al. parallel merge of (n, mean[, var_pop]) plus min/max —
    the reference's combine_stats (_normalization.py:227-249) applied
    across fit calls."""
    n1 = int(old.get("n") or 0)
    n2 = int(new.get("n") or 0)
    n = n1 + n2
    out: Dict[str, Any] = {"n": n}
    if n == 0:
        out["mean"] = None
        if with_var:
            out["var_pop"] = None
    else:
        m1 = float(old["mean"]) if old.get("mean") is not None else 0.0
        m2 = float(new["mean"]) if new.get("mean") is not None else 0.0
        mean = (n1 * m1 + n2 * m2) / n
        out["mean"] = mean
        if with_var:
            v1 = float(old["var_pop"]) if old.get("var_pop") is not None else 0.0
            v2 = float(new["var_pop"]) if new.get("var_pop") is not None else 0.0
            d = m2 - m1
            out["var_pop"] = (n1 * v1 + n2 * v2) / n + d * d * n1 * n2 / (n * n)
    if "min" in old or "min" in new:
        out["min"] = _merge_extreme(old.get("min"), new.get("min"), min)
        out["max"] = _merge_extreme(old.get("max"), new.get("max"), max)
    return out


def _scale_expr(col: Column, offset: float, divisor: float) -> Column:
    """(col - offset) / divisor with torch division semantics for the
    degenerate divisor==0 case (x/0 -> ±inf, 0/0 -> nan).  Spark 4's
    ANSI mode raises DIVIDE_BY_ZERO even for doubles, so a zero divisor
    is folded into multiplication by ±inf at plan-build time; the
    normal path stays a true division (bit-identical to SQL oracles)."""
    num = col.cast("double") - F.lit(float(offset))
    if divisor == 0.0:
        return num * F.lit(math.inf if math.copysign(1.0, divisor) > 0 else -math.inf)
    return num / F.lit(float(divisor))


class StackedScaler(Transform):
    """k fitted scalers packaged as ONE module over a stacked input —
    reference ``MeanScale.stack`` / ``MinMaxScale.stack`` /
    ``StandardScore.stack`` (_normalization.py:72-88,155-171,263-281),
    where stacking lets one module graph node serve many features.

    Spark-first form: the fitted (offset, divisor) pairs are plan-time
    constants, so the stacked transform unrolls into one ``F.array`` of
    per-element ``_scale_expr`` projections over an ``array`` input
    column (build it with ``Stack``/``Cat`` from wrappers.py) — a single
    whole-stage-codegen expression, no UDF, and each element keeps the
    exact torch division semantics of its unstacked twin.  Fitting k
    columns is already one job per wave in the planner; this is the
    reference's *serving-side* packaging of the fitted modules."""

    input_kinds = ("array",)
    output_kind = "array"

    def __init__(self, pairs: List[tuple]) -> None:
        if not pairs:
            raise ValueError("StackedScaler needs at least one (offset, divisor) pair")
        self.pairs = [(float(o), float(d)) for o, d in pairs]

    @staticmethod
    def _from_modules(modules, offset_attr: str, divisor_attr: str) -> "StackedScaler":
        pairs = []
        for m in modules:
            m._require_fitted()
            pairs.append((getattr(m, offset_attr), getattr(m, divisor_attr)))
        return StackedScaler(pairs)

    def expr(self, col: Column) -> Column:
        return F.array(
            *[
                _scale_expr(F.element_at(col, i + 1), o, d)
                for i, (o, d) in enumerate(self.pairs)
            ]
        )


class MeanScale(FittedTransform):
    """(x - mean) / (max - min) — reference _normalization.py:7-91.

    Fit is one global pass (count-weighted mean), equal to the reference
    fitted on a single shard.  The reference's ``combine_stats`` averages
    shard means *unweighted* (_normalization.py:54), so a sharded
    reference run with unequal shards differs; for parity with that mode
    keep shards equal-sized (as the reference's own tests do).
    """

    fit_kind = FitKind.SCALAR_AGG
    input_kinds = ("numeric", "boolean")
    output_kind = "numeric"

    def __init__(self, shard_merge: str = "weighted") -> None:
        """``shard_merge`` governs how ``Pipeline.fit_update`` combines
        fit calls: 'weighted' (count-weighted, mathematically the full-
        data mean) or 'unweighted' — the reference's combine_stats
        averages shard means EQUALLY (_normalization.py:54), so the
        unweighted mode replicates a reference run whose shards were the
        successive fit calls."""
        super().__init__()
        if shard_merge not in ("weighted", "unweighted"):
            raise ValueError(shard_merge)
        self.shard_merge = shard_merge
        self.mean = 0.0
        self.delta = 0.0

    def fit_aggs(self, col: Column) -> Dict[str, Column]:
        c = col.cast("double")
        return {"n": F.count(c), "mean": F.avg(c), "min": F.min(c), "max": F.max(c)}

    def fit_finalize(self, stats: Dict[str, Any]) -> None:
        self.mean = _stat(stats, "mean")
        self.delta = _stat(stats, "max") - _stat(stats, "min")
        self._fitted = True

    def merge_stats(self, old: Dict[str, Any], new: Dict[str, Any]) -> Dict[str, Any]:
        if self.shard_merge == "unweighted":
            # reference parity: equal average over all fit calls so far
            means = list(old.get("means", [old.get("mean")])) + [new.get("mean")]
            means = [m for m in means if m is not None]
            return {
                "means": means,
                "mean": sum(float(m) for m in means) / len(means) if means else None,
                "min": _merge_extreme(old.get("min"), new.get("min"), min),
                "max": _merge_extreme(old.get("max"), new.get("max"), max),
                "n": int(old.get("n") or 0) + int(new.get("n") or 0),
            }
        return _merge_moment_stats(old, new, with_var=False)

    def expr(self, col: Column) -> Column:
        self._require_fitted()
        return _scale_expr(col, self.mean, self.delta)

    @staticmethod
    def stack(modules: List["MeanScale"]) -> StackedScaler:
        """Reference API parity (_normalization.py:72-88): one module
        over a stacked input from k fitted MeanScales."""
        return StackedScaler._from_modules(modules, "mean", "delta")

    def get_state(self) -> Dict[str, Any]:
        return {"mean": self.mean, "delta": self.delta, "shard_merge": self.shard_merge}

    def set_state(self, state: Dict[str, Any]) -> None:
        self.mean = float(state["mean"])
        self.delta = float(state["delta"])
        self.shard_merge = state.get("shard_merge", "weighted")
        self._fitted = True


class MinMaxScale(FittedTransform):
    """(x - min) / (max - min) — reference _normalization.py:94-174."""

    fit_kind = FitKind.SCALAR_AGG
    input_kinds = ("numeric", "boolean")
    output_kind = "numeric"

    def __init__(self) -> None:
        super().__init__()
        self.vmin = math.inf
        self.vdelta = math.inf

    def fit_aggs(self, col: Column) -> Dict[str, Column]:
        c = col.cast("double")
        return {"min": F.min(c), "max": F.max(c)}

    def fit_finalize(self, stats: Dict[str, Any]) -> None:
        self.vmin = _stat(stats, "min")
        self.vdelta = _stat(stats, "max") - self.vmin
        self._fitted = True

    def merge_stats(self, old: Dict[str, Any], new: Dict[str, Any]) -> Dict[str, Any]:
        return {
            "min": _merge_extreme(old.get("min"), new.get("min"), min),
            "max": _merge_extreme(old.get("max"), new.get("max"), max),
        }

    def expr(self, col: Column) -> Column:
        self._require_fitted()
        return _scale_expr(col, self.vmin, self.vdelta)

    @staticmethod
    def stack(modules: List["MinMaxScale"]) -> StackedScaler:
        """Reference API parity (_normalization.py:155-171)."""
        return StackedScaler._from_modules(modules, "vmin", "vdelta")

    def get_state(self) -> Dict[str, Any]:
        return {"vmin": self.vmin, "vdelta": self.vdelta}

    def set_state(self, state: Dict[str, Any]) -> None:
        self.vmin = float(state["vmin"])
        self.vdelta = float(state["vdelta"])
        self._fitted = True


class StandardScore(FittedTransform):
    """(x - mean) / std with ddof — reference _normalization.py:177-282.

    std = sqrt(sum((x-mean)^2) / (n - ddof)) (_normalization.py:208);
    expressed as var_pop * n / (n - ddof) so any ddof works with
    Catalyst's numerically-stable partial+final M2 merge (the reference's
    hand-written Chan merge, _normalization.py:227-249, is exactly what
    Spark's central-moment aggregate does internally).
    """

    fit_kind = FitKind.SCALAR_AGG
    input_kinds = ("numeric", "boolean")
    output_kind = "numeric"

    def __init__(self, ddof: int = 1):
        super().__init__()
        self.ddof = ddof
        self.mean = 0.0
        self.std = 1.0

    def fit_aggs(self, col: Column) -> Dict[str, Column]:
        c = col.cast("double")
        return {"n": F.count(c), "mean": F.avg(c), "var_pop": F.var_pop(c)}

    def fit_finalize(self, stats: Dict[str, Any]) -> None:
        self.mean = _stat(stats, "mean")
        self.std = _std(stats["n"], stats["var_pop"], self.ddof)
        self._fitted = True

    def merge_stats(self, old: Dict[str, Any], new: Dict[str, Any]) -> Dict[str, Any]:
        return _merge_moment_stats(old, new, with_var=True)

    def expr(self, col: Column) -> Column:
        self._require_fitted()
        return _scale_expr(col, self.mean, self.std)

    @staticmethod
    def stack(modules: List["StandardScore"]) -> StackedScaler:
        """Reference API parity (_normalization.py:263-281)."""
        return StackedScaler._from_modules(modules, "mean", "std")

    def get_state(self) -> Dict[str, Any]:
        return {"ddof": self.ddof, "mean": self.mean, "std": self.std}

    def set_state(self, state: Dict[str, Any]) -> None:
        self.ddof = int(state["ddof"])
        self.mean = float(state["mean"])
        self.std = float(state["std"])
        self._fitted = True


class _SketchOp(FittedTransform):
    """Shared t-digest fit machinery for TDigestDistribution/RobustScale.

    Fit contract (FitKind.SKETCH): the planner runs one ``mapInArrow``
    pass emitting one row of centroid arrays ``(op, pid, means,
    weights)`` per op and partition (≤ 2*compression centroids after
    compaction), collects them, and
    calls ``fit_finalize`` with the partials in partition order — the
    same shard-merge discipline as the reference
    (_normalization.py:601-613).
    """

    fit_kind = FitKind.SKETCH
    input_kinds = ("numeric", "boolean")
    output_kind = "numeric"

    def __init__(self, compression: float = 1000.0):
        super().__init__()
        self.compression = float(compression)
        self._td = TDigest(compression)

    def partial_sketch(self, values: np.ndarray) -> DigestState:
        """Per-partition partial: add values, compact, return centroids."""
        d = self._td.new_digest()
        finite = values[~np.isnan(values)]
        self._td.add_values(d, finite)
        self._td._process(d)
        return d

    def merge_partials(self, partials: List[DigestState]) -> DigestState:
        t = self._td.new_digest()
        for p in partials:
            self._td.merge_digests(t, p)
        return t

    def merge_stats(self, old: List[DigestState], new: List[DigestState]) -> List[DigestState]:
        # partials are mergeable by construction: fit_update simply
        # accumulates the delta's per-partition digests (each is <=
        # 2*compression centroids) and re-merges at finalize
        return list(old) + list(new)


class TDigestDistribution(_SketchOp):
    """forward(x) = estimated CDF(x) — reference _normalization.py:565-628.

    This is the QuantileBin primitive: maps values to their estimated
    quantile position.  Transform is an Arrow UDF over the broadcast
    finalized centroid arrays (≤ 2*compression f64 pairs); a NULL or
    NaN value comes back as NULL.
    """

    def fit_finalize(self, partials: List[DigestState]) -> None:
        t = self.merge_partials(partials)
        self._td.finalize(t)
        self.t = t
        self._fitted = True

    def expr(self, col: Column) -> Column:
        self._require_fitted()
        td, digest = self._td, self.t

        @F.arrow_udf("double")
        def _cdf(s: pa.Array) -> pa.Array:
            return pa.array(td.cdf(digest, s.to_numpy(zero_copy_only=False)), from_pandas=True)

        return _cdf(col.cast("double"))

    def get_state(self) -> Dict[str, Any]:
        return {"compression": self.compression, "digest": digest_to_state(self.t)}

    def set_state(self, state: Dict[str, Any]) -> None:
        self.compression = float(state["compression"])
        self._td = TDigest(self.compression)
        self.t = digest_from_state(state["digest"], self.compression)
        self._fitted = True


class RobustScale(_SketchOp):
    """(x - median) / IQR — reference _normalization.py:631-691.

    The digest is only used at finalize to extract q25/q50/q75
    (_normalization.py:685-688); the transform itself is a pure Column
    expression with two literal parameters.

    ``exact=True`` swaps the t-digest sketch for Spark's exact
    ``percentile`` aggregate (sort-based, linear interpolation — the
    ANSI/NumPy-linear definition DuckDB's ``quantile_cont`` shares, so
    results are SQL-oracle-checkable).  Exact percentiles shuffle the
    column per group; the sketch stays the default for 100 TB fits.
    """

    def __init__(self, compression: float = 1000.0, exact: bool = False):
        super().__init__(compression)
        self.exact = bool(exact)
        self.median = 0.0
        self.iqr = 1.0
        if self.exact:
            self.fit_kind = FitKind.SCALAR_AGG  # instance override

    def fit_aggs(self, col: Column) -> Dict[str, Column]:
        c = col.cast("double")
        return {
            "med": F.percentile(c, F.lit(0.5)),
            "q1": F.percentile(c, F.lit(0.25)),
            "q3": F.percentile(c, F.lit(0.75)),
        }

    def merge_stats(self, old: Any, new: Any) -> Any:
        if self.exact:
            raise NotImplementedError(
                "exact percentiles are not mergeable; use the t-digest mode "
                "(RobustScale(exact=False)) for incremental fit_update"
            )
        return super().merge_stats(old, new)

    def fit_finalize(self, stats: Any) -> None:
        if self.exact:
            self.median = _stat(stats, "med")
            self.iqr = _stat(stats, "q3") - _stat(stats, "q1")
            self._fitted = True
            return
        partials: List[DigestState] = stats
        t = self.merge_partials(partials)
        self._td.finalize(t)
        self.median = float(self._td.quantile(t, np.array([0.5]))[0])
        q1 = float(self._td.quantile(t, np.array([0.25]))[0])
        q3 = float(self._td.quantile(t, np.array([0.75]))[0])
        self.iqr = q3 - q1
        self._fitted = True

    def expr(self, col: Column) -> Column:
        self._require_fitted()
        return _scale_expr(col, self.median, self.iqr)

    def get_state(self) -> Dict[str, Any]:
        return {
            "compression": self.compression,
            "median": self.median,
            "iqr": self.iqr,
            "exact": self.exact,
        }

    def set_state(self, state: Dict[str, Any]) -> None:
        self.compression = float(state["compression"])
        self._td = TDigest(self.compression)
        self.median = float(state["median"])
        self.iqr = float(state["iqr"])
        self.exact = bool(state.get("exact", False))
        if self.exact:
            self.fit_kind = FitKind.SCALAR_AGG
        self._fitted = True


class GroupedStandardScore(FittedTransform):
    """Per-GROUP (x - mean_g) / std_g — a beyond-reference hybrid of
    StandardScore and the broadcast-vocabulary pattern: fit learns one
    (mean, std) pair per key of ``group_col`` (one groupBy aggregate,
    driver dict bounded like a vocabulary), transform applies the pair
    via an Arrow-batched two-column lookup.  The fit/transform split means
    per-segment normalization parameters can be TRAINED on one table
    and SERVED on another (or on a stream) — a plain window expression
    cannot do that.

    OOV and NULL groups at transform time get NULL (no fitted
    parameters), as does any NaN result.
    """

    fit_kind = FitKind.GROUPED
    input_kinds = ("numeric", "boolean")
    output_kind = "numeric"

    def __init__(self, group_col: str, ddof: int = 1):
        super().__init__()
        self.group_col = group_col
        self.ddof = int(ddof)
        self.params: Dict[str, tuple] = {}

    fit_aggs = StandardScore.fit_aggs  # per group: n, mean, var_pop

    def fit_finalize(self, stats: Dict[str, Dict[str, Any]]) -> None:
        """stats: {group_key(str): {n, mean, var_pop}}."""
        self.params = {
            g: (_stat(st, "mean"), _std(st["n"], st["var_pop"], self.ddof))
            for g, st in stats.items()
        }
        self._fitted = True

    def merge_stats(
        self, old: Dict[str, Dict[str, Any]], new: Dict[str, Dict[str, Any]]
    ) -> Dict[str, Dict[str, Any]]:
        out = dict(old)
        for g, st in new.items():
            out[g] = _merge_moment_stats(out.get(g, {}), st, with_var=True) if g in out else st
        return out

    def expr(self, col: Column) -> Column:
        self._require_fitted()
        # Build the key and parameter arrays ONCE (not per Arrow batch);
        # they ship like the lookups' vocabularies (closure, or broadcast
        # if large)
        from torchestra_spark.operators.lookups import _shipped

        get_arrays = _shipped(
            (
                pa.array(list(self.params), pa.string()),
                pa.array([v[0] for v in self.params.values()], pa.float64()),
                pa.array([v[1] for v in self.params.values()], pa.float64()),
            ),
            len(self.params),
        )

        @F.arrow_udf("double")
        def _apply(g: pa.Array, x: pa.Array) -> pa.Array:
            keys, means, stds = get_arrays()
            i = pc.index_in(g, value_set=keys, skip_nulls=True)
            m, s = (pc.take(a, i).to_numpy(zero_copy_only=False) for a in (means, stds))
            with np.errstate(divide="ignore", invalid="ignore"):
                z = (x.to_numpy(zero_copy_only=False) - m) / s
            return pa.array(z, from_pandas=True)

        # Canonicalize the serving key with the SAME Spark cast('string')
        # the fit side uses (pipeline groupBy cast), so booleans ('true')
        # and exponent floats ('1.0E16') key alike at fit and transform.
        return _apply(F.col(self.group_col).cast("string"), col.cast("double"))

    def get_state(self) -> Dict[str, Any]:
        return {
            "group_col": self.group_col,
            "ddof": self.ddof,
            "params": {k: list(v) for k, v in self.params.items()},
        }

    def set_state(self, state: Dict[str, Any]) -> None:
        self.group_col = state["group_col"]
        self.ddof = int(state["ddof"])
        self.params = {k: tuple(v) for k, v in state["params"].items()}
        self._fitted = True
