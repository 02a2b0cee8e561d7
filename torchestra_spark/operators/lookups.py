"""Categorical lookup operators + vocabulary eliminators.

Semantics from /root/reference/src/torchestra/_lookups.py.  Fit is a
``groupBy(key).count()`` (Spark's hash aggregate = the reference's
count-dict partial/merge, _lookups.py:31-61); eliminators are pushed
into Spark as HAVING-style predicates / top-k windows *before* the
vocabulary is collected, so only the surviving (small) vocabulary ever
reaches the driver.  Transforms apply the broadcast vocabulary as an
Arrow UDF (one ``index_in`` + ``take`` per batch — vectorized, no
per-row Python) — the broadcast-hash-join-in-spirit of
_lookups.py:219-220.

Ordering parity: ``sort_counts`` replicates the reference's
``_sort_counts`` (_lookups.py:547-551) — keys sorted ascending, then a
*stable* descending sort on counts — i.e. count DESC, key ASC.  Spark's
UTF-8 binary string ordering equals Python's code-point ordering, so the
Spark-side TopK window (`row_number` over count DESC, key ASC) keeps
exact tie parity.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from torchestra_spark.core import FitKind, FittedTransform, Transform


def sort_counts(counts: Dict[str, int]) -> List[str]:
    """Reference `_sort_counts` (_lookups.py:547-551): count DESC with
    stable alphabetical (code-point) tiebreak."""
    keys = sorted(counts.keys())
    return sorted(keys, key=lambda k: -counts[k])  # python sort is stable


# --------------------------------------------------------------- eliminators
class Eliminator:
    """Vocabulary pruning predicate (reference _lookups.py:477-551).

    ``prune_dict`` is the exact driver-side semantics over a full counts
    dict; ``prune_spark`` applies the same predicate inside Spark on the
    (key, cnt) aggregate *before* collecting — so unbounded cardinality
    never reaches the driver.  Ratio thresholds are computed against the
    pre-elimination total, like the reference (_lookups.py:518-524).
    """

    def prune_dict(self, counts: Dict[str, int]) -> Dict[str, int]:
        raise NotImplementedError

    def prune_spark(self, df: DataFrame, key: str, cnt: str) -> DataFrame:
        raise NotImplementedError

    def get_state(self) -> Dict[str, Any]:
        return {"kind": type(self).__name__}


class NoThreshold(Eliminator):
    """Identity — _lookups.py:477-483."""

    def prune_dict(self, counts: Dict[str, int]) -> Dict[str, int]:
        return counts

    def prune_spark(self, df: DataFrame, key: str, cnt: str) -> DataFrame:
        return df


class MinThreshold(Eliminator):
    """Keep count >= threshold — _lookups.py:486-503."""

    def __init__(self, threshold: int):
        self.threshold = threshold

    def prune_dict(self, counts: Dict[str, int]) -> Dict[str, int]:
        return {k: v for k, v in counts.items() if v >= self.threshold}

    def prune_spark(self, df: DataFrame, key: str, cnt: str) -> DataFrame:
        return df.filter(F.col(cnt) >= F.lit(int(self.threshold)))

    def get_state(self) -> Dict[str, Any]:
        return {"kind": "MinThreshold", "threshold": self.threshold}


class RatioThreshold(Eliminator):
    """Keep count/total >= threshold (total = pre-elimination sum) —
    _lookups.py:506-524."""

    def __init__(self, threshold: float):
        self.threshold = threshold

    def prune_dict(self, counts: Dict[str, int]) -> Dict[str, int]:
        total = sum(counts.values())
        return {k: v for k, v in counts.items() if v / total >= self.threshold}

    def prune_spark(self, df: DataFrame, key: str, cnt: str) -> DataFrame:
        # global total via a 1-row scalar aggregate broadcast back
        # onto the counts — not a partition-less sum window that
        # would funnel every distinct key through one task
        total = df.agg(F.sum(F.col(cnt)).alias("__total"))
        return (
            df.crossJoin(F.broadcast(total))
            .filter(F.col(cnt) / F.col("__total") >= F.lit(float(self.threshold)))
            .drop("__total")
        )

    def get_state(self) -> Dict[str, Any]:
        return {"kind": "RatioThreshold", "threshold": self.threshold}


class TopK(Eliminator):
    """Top-k by count, ties alphabetical (stable) — _lookups.py:527-544."""

    def __init__(self, k: int):
        self.k = k

    def prune_dict(self, counts: Dict[str, int]) -> Dict[str, int]:
        return {k: counts[k] for k in sort_counts(counts)[: self.k]}

    def prune_spark(self, df: DataFrame, key: str, cnt: str) -> DataFrame:
        # orderBy + limit compiles to TakeOrderedAndProject: every
        # partition keeps a partial top-k and the driver merges k rows
        # per partition — no single-partition ranking window, so a
        # web-scale distinct-key set never funnels through one task.
        # Tie rule (count DESC, key ASC) is identical to _sort_counts.
        return df.orderBy(F.col(cnt).desc(), F.col(key).asc()).limit(int(self.k))

    def get_state(self) -> Dict[str, Any]:
        return {"kind": "TopK", "k": self.k}


_ELIMINATORS = {e.__name__: e for e in (NoThreshold, MinThreshold, RatioThreshold, TopK)}


def eliminator_from_state(state: Dict[str, Any]) -> Eliminator:
    """Rebuild an eliminator from ``get_state()``: the ``kind`` names the
    class, the remaining keys are its constructor arguments."""
    kind = state["kind"]
    if kind not in _ELIMINATORS:
        raise ValueError(f"unknown eliminator {kind!r}")
    return _ELIMINATORS[kind](**{k: v for k, v in state.items() if k != "kind"})


# ------------------------------------------------------------- broadcast map
_BROADCAST_MIN = 1024  # below this, ship the payload in the UDF closure


def _shipped(payload: Any, size: int):
    """A zero-argument getter of ``payload`` for an Arrow UDF: payloads
    of ``size >= _BROADCAST_MIN`` entries ride a TorrentBroadcast (read
    once per executor, kept out of the pickled task closure); smaller
    ones ride the closure itself."""
    spark = SparkSession.getActiveSession()
    if spark is not None and size >= _BROADCAST_MIN:
        bc = spark.sparkContext.broadcast(payload)
        return lambda: bc.value
    return lambda: payload


def fused_lookups(df: "DataFrame", outputs: Dict[str, tuple]) -> "DataFrame":
    """Apply k fitted lookups as ONE ``withColumns`` of their exprs.

    ``outputs`` maps output column name -> (fitted lookup op, input
    column name).  Catalyst's ExtractPythonUDFs batches the k
    independent Arrow UDFs of one projection into ONE ArrowEvalPython
    stage, so the k lookups share a single Arrow crossing — the plan
    is the same as applying each ``op.expr`` in turn (bench
    lookups_fused vs lookups_unfused)."""
    return df.withColumns({out: op.expr(F.col(c)) for out, (op, c) in outputs.items()})


def _map_udf(vocab: Dict[str, Any], default: Any, out_type: str, int_keys: bool) -> "F.udf":
    """Arrow-vectorized dict application: one ``index_in`` of the batch
    against the key array, one ``take`` of the value array, OOV (and
    NULL) keys get ``default``.  The arrays ship by ``_shipped``."""
    get_arrays = _shipped(
        (
            pa.array(list(vocab), pa.int64() if int_keys else pa.string()),
            pa.array(list(vocab.values()), pa.int64() if out_type == "bigint" else pa.float64()),
        ),
        len(vocab),
    )

    @F.arrow_udf(out_type)
    def _apply(s: pa.Array) -> pa.Array:
        keys, values = get_arrays()
        if int_keys and not pa.types.is_integer(s.type):
            # only integral, in-range values are keys, as ``vocab_key``
            # counts them at fit: NaN, ±inf and 1.5 get the default
            s = s.cast(pa.float64())
            whole = pc.and_(pc.equal(s, pc.floor(s)), pc.less(pc.abs(s), 2.0**63))
            s = pc.if_else(whole, s, None).cast(pa.int64())
        return pc.take(values, pc.index_in(s, value_set=keys, skip_nulls=True)).fill_null(default)

    return _apply


class _VocabLookup(FittedTransform):
    """What the six vocabulary lookups share: the VOCAB fit with its
    eliminator, the counter-add merge across fit calls, the Arrow dict
    map, and the state codec.  A subclass names its fitted dict
    (``_table``), that dict's value type, its OOV default and output
    type, its scalar state fields, and its own ``fit_finalize``.
    ``int_keys`` twins key the dict on ints; state keys are always
    ``str(key)`` (JSON object keys), parsed back with ``int``."""

    fit_kind = FitKind.VOCAB
    int_keys = False
    input_kinds = ("string",)
    output_kind = "numeric"
    _table: str  # attribute name of the fitted dict
    _value: type = int
    _out_type = "bigint"
    _fields = ("total",)

    def __init__(self, eliminator: Optional[Eliminator] = None):
        super().__init__()
        self.eliminator = eliminator or NoThreshold()

    @property
    def _oov(self) -> Any:
        return self._value(0)

    def vocab_key(self, df: DataFrame, col: Column) -> Column:
        """The string key each value of ``col`` over ``df`` is counted
        under at fit.  An ``int_keys`` lookup over a fractional column
        counts only integral values, as their digits: NaN, ±inf and 1.5
        are no integer key, so like NULL they are left out, and the
        transform maps them to the OOV default."""
        if self.int_keys and not isinstance(df.select(col).schema[0].dataType, IntegralType):
            col = F.when(col == F.floor(col), F.floor(col))
        return col.cast("string")

    def expr(self, col: Column) -> Column:
        self._require_fitted()
        return _map_udf(getattr(self, self._table), self._oov, self._out_type, self.int_keys)(col)

    def merge_stats(self, old: Dict[str, int], new: Dict[str, int]) -> Dict[str, int]:
        """Counter-add two collected vocab payloads, then re-apply the
        eliminator over the merged dict — combine_stats across fit calls.
        Exact for NoThreshold; with pruning eliminators the per-fit Spark
        pushdown has already dropped sub-threshold keys within each fit,
        so an incrementally-updated vocabulary can undercount keys that
        only cross the threshold across deltas (documented approximation)."""
        merged = dict(old)
        for k, v in new.items():
            merged[k] = merged.get(k, 0) + v
        return self.eliminator.prune_dict(merged)

    def get_state(self) -> Dict[str, Any]:
        table = getattr(self, self._table)
        if self.int_keys:
            table = {str(k): v for k, v in table.items()}
        return {
            self._table: table,
            **{f: getattr(self, f) for f in self._fields},
            "eliminator": self.eliminator.get_state(),
        }

    def set_state(self, state: Dict[str, Any]) -> None:
        key = int if self.int_keys else str
        setattr(self, self._table, {key(k): self._value(v) for k, v in state[self._table].items()})
        for f in self._fields:
            setattr(self, f, int(state[f]))
        self.eliminator = eliminator_from_state(state["eliminator"])
        self._fitted = True


# ----------------------------------------------------------------- string ops
class CountLookup(_VocabLookup):
    """string -> training-set count (0 if absent) — _lookups.py:6-77."""

    _table = "counts"

    def __init__(self, eliminator: Optional[Eliminator] = None):
        super().__init__(eliminator)
        self.counts: Dict[Any, int] = {"": 0}
        self.total = 0

    def fit_finalize(self, pruned_counts: Dict[str, int]) -> None:
        # counts arrive already pruned (eliminator pushed into Spark);
        # mirrors apply_stats post-elimination (_lookups.py:63-74)
        self.total = sum(pruned_counts.values())
        self.counts = dict(pruned_counts) if self.total > 0 else {"": 0}
        self._fitted = True


class RatioLookup(_VocabLookup):
    """string -> count/total (0.0 if total==0) — _lookups.py:80-134."""

    _table = "ratios"
    _value = float
    _out_type = "double"

    def __init__(self, eliminator: Optional[Eliminator] = None):
        super().__init__(eliminator)
        self.ratios: Dict[Any, float] = {}
        self.total = 0

    def fit_finalize(self, pruned_counts: Dict[str, int]) -> None:
        self.total = sum(pruned_counts.values())
        self.ratios = (
            {k: v / self.total for k, v in pruned_counts.items()} if self.total > 0 else {}
        )
        self._fitted = True

    def expr(self, col: Column) -> Column:
        self._require_fitted()
        return F.lit(0.0) if self.total == 0 else super().expr(col)


class IndexLookup(_VocabLookup):
    """string -> dense index — _lookups.py:137-220.

    Vocabulary ordered by count DESC / key ASC (``sort_counts``), index
    assignment skips the reserved ``padding_idx``/``unknown_idx``; OOV
    maps to ``unknown_idx``.  This is the CategoryMapping-via-broadcast-
    vocabulary primitive of the north star.
    """

    _table = "lookup"
    _fields = ("padding_idx", "unknown_idx")

    def __init__(
        self,
        eliminator: Optional[Eliminator] = None,
        padding_idx: int = 0,
        unknown_idx: int = 1,
    ):
        super().__init__(eliminator)
        self.padding_idx = padding_idx
        self.unknown_idx = unknown_idx
        self.lookup: Dict[Any, int] = {"": self.unknown_idx}

    @property
    def _oov(self) -> int:
        return self.unknown_idx

    def dictionary_size(self) -> int:
        # _lookups.py:161-170
        if len(self.lookup) == 1 and self.lookup.get("", self.padding_idx) == self.unknown_idx:
            return 2
        return len(self.lookup) + 2

    def fit_finalize(self, pruned_counts: Dict[str, int]) -> None:
        # _lookups.py:197-217
        if sum(pruned_counts.values()) < 1:
            self.lookup = {"": self.unknown_idx}
            self._fitted = True
            return
        self.lookup = {}
        taken = {self.padding_idx, self.unknown_idx}
        for k in sort_counts(pruned_counts):
            i = len(self.lookup)
            while i in taken:
                i += 1
            self.lookup[k] = i
            taken.add(i)
        self._fitted = True


# ----------------------------------------------------------------- int ops
# The reference's Int variants round-trip keys through str() for the
# eliminator (_lookups.py:298-299,454), so tie ordering is on the string
# form of the integer ("10" < "2").  The planner feeds all vocab fits as
# string keys, which reproduces that exactly; the fitted dicts below key
# on the original ints (the dense-offset-array storage of the reference
# is an implementation detail we don't copy — a broadcast hash map scales
# better for sparse key ranges).


class IntCountLookup(CountLookup):
    """int -> count — _lookups.py:223-314; OOV -> 0 (mask semantics
    _lookups.py:310-314 equal dict-default-0)."""

    int_keys = True
    input_kinds = ("numeric",)

    def fit_finalize(self, pruned_counts: Dict[str, int]) -> None:
        int_counts = {int(k): v for k, v in pruned_counts.items()}
        self.total = sum(int_counts.values())
        self.counts = int_counts
        self._fitted = True


class IntRatioLookup(RatioLookup):
    """int -> count/total — _lookups.py:317-373."""

    int_keys = True
    input_kinds = ("numeric",)

    def fit_finalize(self, pruned_counts: Dict[str, int]) -> None:
        int_counts = {int(k): v for k, v in pruned_counts.items()}
        self.total = sum(int_counts.values())
        self.ratios = (
            {k: v / self.total for k, v in int_counts.items()} if self.total > 0 else {}
        )
        self._fitted = True


class IntIndexLookup(IndexLookup):
    """int -> dense index — _lookups.py:376-474; same reserved-index
    rules, key ordering on str(key) (_lookups.py:454-455)."""

    int_keys = True
    input_kinds = ("numeric",)

    def dictionary_size(self) -> int:
        # _lookups.py:411-418
        if not self.lookup or self.lookup == {"": self.unknown_idx}:
            return 2
        return len(self.lookup) + 2

    def fit_finalize(self, pruned_counts: Dict[str, int]) -> None:
        # ordering on the *string* keys, assignment to int keys
        # (_lookups.py:454-467)
        str_keys = sort_counts(pruned_counts)
        if len(str_keys) < 1:
            self.lookup = {}
            self._fitted = True
            return
        self.lookup = {}
        taken = {self.padding_idx, self.unknown_idx}
        i = 0
        for k in str_keys:
            while i in taken:
                i += 1
            self.lookup[int(k)] = i
            i += 1
        self._fitted = True


class HashBucket(Transform):
    """Vocabulary-FREE categorical encoding (the hashing trick):
    ``bucket = hash(value) mod (n_buckets - 1) + 1`` — index 0 is
    reserved for NULL (mirroring the lookups' reserved index 0), so
    non-null keys spread over n_buckets - 1 buckets and the output
    domain is exactly [0, n_buckets).

    The scale-first alternative to IndexLookup: no fit pass, no
    vocabulary state, no driver collect — a 10^9-cardinality key column
    encodes in one codegen'd expression, at the cost of hash collisions
    (rate ~ cardinality / n_buckets, the standard trade-off).

    ``method="xxhash64"`` (default) is JVM-side; ``method="poly31"``
    uses the engine's SQL-expressible polynomial string hash
    (functions/text.token_hash) so the DuckDB oracle can replay the
    encoding bit-for-bit."""

    input_kinds = ("string", "numeric")
    output_kind = "numeric"

    def __init__(self, n_buckets: int = 1 << 20, seed: int = 42, method: str = "xxhash64"):
        if n_buckets < 2:
            raise ValueError("n_buckets must be >= 2")
        self.n_buckets = int(n_buckets)
        self.seed = int(seed)
        self.method = method

    def expr(self, col: Column) -> Column:
        if self.method == "xxhash64":
            h = F.xxhash64(col, F.lit(self.seed))
        elif self.method == "poly31":
            from torchestra_spark.functions.text import token_hash

            h = token_hash(col.cast("string")) + F.lit(self.seed)
        else:
            raise ValueError(f"unknown method {self.method!r}")
        bucket = F.pmod(h, F.lit(self.n_buckets - 1)) + 1
        return F.when(col.isNull(), F.lit(0)).otherwise(bucket).cast("long")

    def get_state(self) -> Dict[str, Any]:
        return {"n_buckets": self.n_buckets, "seed": self.seed, "method": self.method}

    def set_state(self, state: Dict[str, Any]) -> None:
        self.n_buckets = int(state["n_buckets"])
        self.seed = int(state["seed"])
        self.method = state.get("method", "xxhash64")
