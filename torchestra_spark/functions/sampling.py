"""Deterministic sampling and dataset mixing for training pipelines.

Every decision is a pure function of (id, seed) — independent of
partitioning, task order, and cluster size — so samples are exactly
reproducible across runs and resumable jobs, and a row's fate never
changes when data is repartitioned (Spark's ``df.sample`` is
per-partition-RNG and loses all three properties).

Two hash backends:

* ``method="xxhash64"`` (default) — JVM-side, whole-stage codegen, zero
  Python: the scale path.
* ``method="splitmix64"`` — the engine's counter-based generator hash
  (io/sources.py) via one vectorized Arrow UDF; bit-exactly
  reproducible in ANSI SQL (the DuckDB oracle replays it in HUGEINT,
  the `_sm_cols` machinery), which xxhash64 is not.

Both map the top 53 bits of the hash to U[0,1) (``h >> 11 / 2^53`` —
exactly representable doubles, so engine comparisons are bit-exact).
"""

from __future__ import annotations

from typing import Dict, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MANTISSA = float(1 << 53)


def uniform_by_id(
    id_col: Column, seed: int = 42, salt: int = 0, method: str = "xxhash64"
) -> Column:
    """Deterministic U[0,1) per id (partition-invariant): a non-NULL
    id's value depends only on (id, seed, salt), never on the rows it
    is batched with.  A NULL id gives NULL under both methods (a NULL
    input adds nothing to ``xxhash64``, so hashing it would give every
    NULL id one shared value)."""
    if method == "xxhash64":
        h = F.xxhash64(id_col, F.lit(int(seed)), F.lit(int(salt)))
        return F.when(id_col.isNotNull(), F.shiftrightunsigned(h, 11).cast("double") / F.lit(_MANTISSA))
    if method == "splitmix64":
        from torchestra_spark.io.sources import _uniform

        @F.arrow_udf("double")
        def _u(s: pa.Array) -> pa.Array:
            ids = s.cast(pa.int64()).fill_null(0).to_numpy().astype(np.uint64)
            null = s.is_null().to_numpy(zero_copy_only=False)
            return pa.array(_uniform(ids, seed, salt), mask=null)

        return _u(id_col)
    raise ValueError(f"unknown method {method!r}")


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    rate: float,
    seed: int = 42,
    method: str = "xxhash64",
) -> DataFrame:
    """Keep each row iff uniform(id) < rate — a reproducible Bernoulli
    sample that survives repartitioning and reruns.  Rows with a NULL
    id are dropped.  Pure filter: no shuffle, pushes down past column
    pruning."""
    return df.filter(uniform_by_id(F.col(id_col), seed, salt=0, method=method) < rate)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    rates: Dict[str, float],
    seed: int = 42,
    default_rate: float = 0.0,
    method: str = "xxhash64",
) -> DataFrame:
    """Dataset mixing: per-source sampling rates (e.g. up-weight wiki,
    down-weight web) in one pass.  ``rates`` maps source value -> keep
    probability; unseen sources use ``default_rate``; rows with a NULL
    id are dropped.  The rate lookup is a literal CASE chain — still a
    pure filter, no join, no shuffle."""
    rate = F.lit(float(default_rate))
    for s, r in sorted(rates.items()):
        rate = F.when(F.col(source_col) == s, F.lit(float(r))).otherwise(rate)
    return df.filter(uniform_by_id(F.col(id_col), seed, salt=1, method=method) < rate)


def split_assign(
    id_col: Column,
    weights: Optional[Dict[str, float]] = None,
    seed: int = 42,
    method: str = "xxhash64",
) -> Column:
    """Assign each id to a named split ('train'/'val'/'test' by
    default) with the given weights — disjoint, exhaustive, stable
    under any reshuffle.  Weights are normalized; assignment is by
    cumulative-threshold on the same uniform, so a NULL id (NULL
    uniform) lands in the last split."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = float(sum(weights.values()))
    u = uniform_by_id(id_col, seed, salt=2, method=method)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, wt in items[:-1]:
        acc += wt / total
        clause = u < acc
        expr = F.when(clause, name) if expr is None else expr.when(clause, name)
    last = items[-1][0]
    return (expr.otherwise(last) if expr is not None else F.lit(last)).alias("split")
