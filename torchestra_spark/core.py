"""Core operator contract.

The reference library's universal stateful-op contract is four methods
(``calculate_stats`` / ``combine_stats`` / ``apply_stats`` / ``forward``,
see /root/reference/src/torchestra/_stats_plan.py:45-46) — verbatim
Spark's partial+final aggregation model.  Here the contract is expressed
Spark-first:

* ``Transform.expr(col)``      -> a Catalyst ``Column`` expression
                                  (the reference's ``forward``)
* ``FittedTransform`` additionally declares *how it fits*:

  - ``FitKind.SCALAR_AGG``: ``fit_aggs(col)`` returns named aggregate
    Columns; all scalar ops in a fit wave share **one** ``df.agg(...)``
    job (single scan, map-side partial aggregation by Catalyst).
  - ``FitKind.VOCAB``: fit needs a ``groupBy(key).count()``; all vocab
    ops in a wave share one groupBy job (an unpivot when there are
    several), with the op's ``eliminator`` (HAVING-style predicates)
    pushed into Spark before the collect.
  - ``FitKind.SKETCH``: fit builds a mergeable sketch per partition
    (numpy t-digest inside ``mapInArrow``), partials merged on the
    driver in deterministic partition order.
  - ``FitKind.GROUPED``: ``fit_aggs(col)`` per key of the op's
    ``group_col``; the ops of a wave that share a group column share
    one ``groupBy(group_col).agg(...)`` job.

``fit_finalize(stats)`` is the reference's ``apply_stats``: it runs on
the driver over tiny collected stats and freezes the op's parameters,
after which ``expr`` folds them into the plan as literals / broadcast
dicts.
"""

from __future__ import annotations

import enum
from typing import Any, Dict, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F


class FitKind(enum.Enum):
    SCALAR_AGG = "scalar_agg"
    VOCAB = "vocab"
    SKETCH = "sketch"
    GROUPED = "grouped"  # per-group scalar stats (groupBy(group).agg)


def type_kind(dt: Any) -> str:
    """Classify a Spark DataType into the coarse kinds the bind-time
    composition check works over (the reference asserts adjacent
    modules' annotated input/output types at composition time,
    _pipes.py:143-146; signature introspection _pipes.py:353-357 —
    here the 'signature' is a Spark type kind)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType, T.DecimalType)):
        return "numeric"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "temporal"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.MapType):
        return "map"
    return "unknown"


class Transform:
    """A stateless columnar transform: one Column in, one Column out.

    ``input_kinds`` / ``output_kind`` are the op's composition
    signature: at ``Pipeline.fit``/``transform`` bind time the declared
    kinds of adjacent ops in a chain are checked against the DataFrame
    schema, so a dtype mismatch raises immediately instead of surfacing
    as a runtime Spark cast error mid-job (reference behavior:
    _pipes.py:143-146).  ``None`` input_kinds = accepts anything;
    ``None`` output_kind = passes its input kind through.
    """

    input_kinds: Optional[tuple] = None
    output_kind: Optional[str] = None

    def expr(self, col: Column) -> Column:
        raise NotImplementedError

    # -- state protocol (stateless default) --------------------------------
    def get_state(self) -> Dict[str, Any]:
        return {}

    def set_state(self, state: Dict[str, Any]) -> None:
        pass

    @property
    def is_fitted(self) -> bool:
        return True

    def __repr__(self) -> str:  # pragma: no cover
        return f"{type(self).__name__}()"


class MultiTransform(Transform):
    """A stateless transform over N input columns -> ONE output Column —
    the reference's multi-arg module head: ``Parallel(..., into=tuple)``
    routed through ``TupleAsArgs`` so the tuple unpacks into
    ``forward(*args)`` (/root/reference/src/torchestra/_pipes.py:107-149,
    306-336).  Valid only as the FIRST op of a multi-input ``Feature``;
    downstream ops chain on its single output.

    ``n_inputs`` declares the arity (``None`` = any arity >= 2), checked
    at compose time before any Spark job runs."""

    n_inputs: Optional[int] = None

    def expr(self, *cols: Column) -> Column:  # type: ignore[override]
        raise NotImplementedError


class FittedTransform(Transform):
    """A transform whose parameters come from a fit phase.

    Mirrors the reference 4-method contract
    (/root/reference/src/torchestra/_stats_plan.py:45-46); the partial/
    combine halves are delegated to Spark's aggregation engine except
    for SKETCH ops which own their partial representation.
    """

    fit_kind: FitKind = FitKind.SCALAR_AGG

    def __init__(self) -> None:
        self._fitted = False

    @property
    def is_fitted(self) -> bool:
        return self._fitted

    # -- SCALAR_AGG ---------------------------------------------------------
    def fit_aggs(self, col: Column) -> Dict[str, Column]:
        """Named aggregate expressions over the input column."""
        raise NotImplementedError

    # -- VOCAB ---------------------------------------------------------------
    # vocab ops carry an ``eliminator`` whose ``Eliminator.prune_spark``
    # is pushed into Spark (see operators/lookups.py) and receive
    # {key(str): count(int)}.

    # -- GROUPED --------------------------------------------------------------
    # grouped ops implement ``fit_aggs`` and name a ``group_col``; they
    # receive {group key(str): {stat name: value}}.

    # -- SKETCH ---------------------------------------------------------------
    # sketch ops implement ``partial_sketch(values: np.ndarray) -> partial``
    # and receive the list of partials (in partition order) at finalize.

    def fit_finalize(self, stats: Any) -> None:
        """Driver-side apply_stats: freeze parameters from collected stats."""
        raise NotImplementedError

    def merge_stats(self, old: Any, new: Any) -> Any:
        """Combine two collected-stats payloads — the reference's
        ``combine_stats`` (shard merge) applied across *fit calls*:
        ``Pipeline.fit_update(delta_df)`` collects stats on the delta
        and finalizes from ``merge_stats(previous, delta)``.  Ops that
        cannot merge (e.g. exact percentiles) leave this unimplemented.
        """
        raise NotImplementedError(
            f"{type(self).__name__} does not support incremental fit_update"
        )

    def _require_fitted(self) -> None:
        if not self._fitted:
            raise RuntimeError(f"{type(self).__name__} is not fitted; call Pipeline.fit first")


class Col(Transform):
    """Column reference — the reference's FieldModule
    (/root/reference/src/torchestra/_pipes.py:56-80): projection of one
    input field."""

    def __init__(self, name: str):
        self.name = name

    def expr(self, col: Optional[Column] = None) -> Column:
        return F.col(self.name)

    def __repr__(self) -> str:  # pragma: no cover
        return f"Col({self.name!r})"
