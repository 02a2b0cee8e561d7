"""Scalar wrapper ops — Column-expression equivalents of the reference's
tensor wrappers (/root/reference/src/torchestra/_wrappers.py and
_debugging.py).

All are pure Catalyst expressions: they stay inside whole-stage codegen,
no Python in the hot path.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from torchestra_spark.core import Transform


class Identity(Transform):
    """No-op; elided from fit planning like the reference's torch.nn.Identity
    (/root/reference/src/torchestra/_pipes.py:156-158)."""

    def expr(self, col: Column) -> Column:
        return col


class NanToNum(Transform):
    """Replace NaN/±inf — reference _wrappers.py:42-61.

    Defaults match torch.nan_to_num: nan -> 0.0, posinf -> None (leave),
    neginf -> None (leave).  The reference replaces ±inf with the dtype
    max/min when None; for f64 that is ±1.7976931348623157e308.

    Spark-domain extension: SQL NULL (which is how missing values —
    including pandas NaN crossing the Arrow boundary — surface in
    DataFrames) is treated like NaN and replaced with ``nan``.
    """

    input_kinds = ("numeric", "boolean")
    output_kind = "numeric"

    _F64_MAX = 1.7976931348623157e308

    def __init__(
        self,
        nan: Optional[float] = 0.0,
        posinf: Optional[float] = None,
        neginf: Optional[float] = None,
    ):
        self.nan = 0.0 if nan is None else nan
        self.posinf = self._F64_MAX if posinf is None else posinf
        self.neginf = -self._F64_MAX if neginf is None else neginf

    def expr(self, col: Column) -> Column:
        return (
            F.when(col.isNull() | F.isnan(col), F.lit(float(self.nan)))
            .when(col == F.lit(float("inf")), F.lit(float(self.posinf)))
            .when(col == F.lit(float("-inf")), F.lit(float(self.neginf)))
            .otherwise(col)
        )


class Clamp(Transform):
    """Clip to [min, max] — reference _wrappers.py:64-81."""

    input_kinds = ("numeric", "boolean")
    output_kind = "numeric"

    def __init__(self, min: float, max: float):  # noqa: A002 - match reference API
        self.min = min
        self.max = max

    def expr(self, col: Column) -> Column:
        return F.least(F.greatest(col, F.lit(float(self.min))), F.lit(float(self.max)))


class Unsqueeze(Transform):
    """Add an axis — reference _wrappers.py:84-99.  In columnar land the
    closest analog is wrapping the scalar into a 1-element array (mostly
    a no-op: multi-feature 'axes' are just multiple columns here)."""

    output_kind = "array"

    def expr(self, col: Column) -> Column:
        return F.array(col)


class ToStr(Transform):
    """Numeric -> string — reference _wrappers.py:102-108.

    For integer inputs ``CAST AS STRING`` matches python ``str(int)``
    exactly, JVM-side.  Float formatting differs between the JVM cast
    ("1.0E16") and python ``str`` ("1e+16", the reference's
    ``str(x.item())``), so ``python_floats=True`` routes through an
    Arrow-batched UDF that applies python float repr (shortest
    round-trip) for exact reference parity — the slow path, only for
    float keys that must match reference vocabularies byte-for-byte.
    There a NaN formats as ``'nan'`` and a NULL stays NULL.
    """

    input_kinds = ("numeric", "boolean", "string")
    output_kind = "string"

    def __init__(self, python_floats: bool = False):
        self.python_floats = bool(python_floats)

    def expr(self, col: Column) -> Column:
        if not self.python_floats:
            return col.cast("string")

        @F.arrow_udf("string")
        def _pystr(s: pa.Array) -> pa.Array:
            return pa.array([None if v is None else str(v) for v in s.to_pylist()], pa.string())

        return _pystr(col.cast("double"))


class ToDouble(Transform):
    """Cast to f64 — the reference keeps all statistics in float64
    (/root/reference/src/torchestra/_normalization.py:20-21)."""

    input_kinds = ("numeric", "boolean", "string")
    output_kind = "numeric"

    def expr(self, col: Column) -> Column:
        return col.cast("double")


def stack(cols: Sequence[Column]) -> Column:
    """Stack k feature columns into one array column — reference Stack
    (_wrappers.py:6-21).  In columnar land a multi-column select is
    already 'stacked'; this exists for APIs that want one array column."""
    return F.array(*cols)


def cat(cols: Sequence[Column]) -> Column:
    """Concatenate array columns — reference Cat (_wrappers.py:24-39)."""
    return F.concat(*cols)


def split_to_cols(df: DataFrame, array_col: str, names: List[str]) -> DataFrame:
    """Split an array column into named scalar columns — reference
    SplitToDict (_debugging.py:6-23)."""
    return df.withColumns({name: F.col(array_col)[i] for i, name in enumerate(names)})
