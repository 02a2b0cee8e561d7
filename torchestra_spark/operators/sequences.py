"""Ragged/token-sequence operators over ``ArrayType`` columns.

The reference represents ragged sequences as a flat value buffer plus
(begin, end) slice offsets (/root/reference/src/torchestra/
_sparse_slices.py:5-23).  Spark's ``ArrayType`` stores arrays in Arrow
exactly that way (values + offsets), so the engine's native ragged type
IS the reference's sparse representation — ``tokens:array<int32>`` in
the driver's input_hint table.  Every op below is a pure Catalyst array
expression (whole-stage codegen, no Python), except the generic
``SparseMapSequences`` fallback which is an Arrow UDF.

Parity targets (exact equality): test_sparse_slices.py:14-84.
"""

from __future__ import annotations

from typing import Callable, Optional, Union

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from torchestra_spark.core import Transform


class SparseLen(Transform):
    """Per-row sequence length (end - begin) — _sparse_slices.py:63-69.
    On ArrayType this is ``size()`` (== the n_tok column invariant)."""

    input_kinds = ("array",)
    output_kind = "numeric"

    def expr(self, col: Column) -> Column:
        return F.size(col)


class SparseTrunc(Transform):
    """Truncate each sequence to at most `length` — _sparse_slices.py:72-87
    (offset arithmetic ``end = min(begin+len, end)``, :26-42; on ArrayType
    a slice)."""

    input_kinds = ("array",)

    def __init__(self, length: int):
        self.length = int(length)

    def expr(self, col: Column) -> Column:
        return F.slice(col, 1, self.length)


# API parity: in the offsets representation SparseTruncIndices is the
# offsets half of SparseTrunc (_sparse_slices.py:26-42); with ArrayType
# the offsets are implicit, so both collapse to the same slice.
SparseTruncIndices = SparseTrunc


class SparseValues(Transform):
    """Project the flat value buffer — _sparse_slices.py:45-51.  On
    ArrayType the array column *is* (values, offsets); identity here,
    with ``flatten_values`` below for an exploded flat view."""

    input_kinds = ("array",)

    def expr(self, col: Column) -> Column:
        return col


class SparseTruncPad(Transform):
    """Truncate then right-pad each sequence to exactly `length` —
    _sparse_slices.py:90-114 (golden: test_sparse_slices.py:63-70).

    ``elem_type`` is the Spark element type used to cast the pad value
    (the reference infers it from the tensor dtype).
    """

    input_kinds = ("array",)

    def __init__(self, length: int, value: Union[int, float] = 0, elem_type: str = "int"):
        self.length = int(length)
        self.value = value
        self.elem_type = elem_type

    def expr(self, col: Column) -> Column:
        trunc = F.slice(col, 1, self.length)
        pad_n = F.greatest(F.lit(0), F.lit(self.length) - F.size(trunc))
        pad = F.array_repeat(F.lit(self.value).cast(self.elem_type), pad_n)
        return F.concat(trunc, pad)


class SparseMapSequences(Transform):
    """Map a reducer over each row's sequence — _sparse_slices.py:117-133
    (golden: per-row sums, test_sparse_slices.py:73-84).

    Built-in reducers ('sum', 'mean', 'min', 'max', 'count') compile to
    Catalyst higher-order functions (aggregate/array_min/...) — JVM-side,
    no Python.  An arbitrary ``numpy`` callable falls back to an Arrow
    UDF that calls it on each non-NULL row's values as a numpy array; a
    NULL row gives NULL.  (The reference's own implementation is a
    per-row python loop; ours at least batches the Arrow transfer.)
    """

    input_kinds = ("array",)
    output_kind = "numeric"

    def __init__(
        self,
        reducer: Union[str, Callable[[np.ndarray], float]] = "sum",
        out_type: str = "double",
    ):
        self.reducer = reducer
        self.out_type = out_type

    def expr(self, col: Column) -> Column:
        r = self.reducer
        if r == "sum":
            return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
        if r == "mean":
            total = F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
            return F.when(F.size(col) > 0, total / F.size(col))
        if r == "min":
            return F.array_min(col)
        if r == "max":
            return F.array_max(col)
        if r == "count":
            return F.size(col)
        if callable(r):
            fn = r
            out_type = self.out_type

            @F.arrow_udf(out_type)
            def _map(s: pa.Array) -> pa.Array:
                rows = (a.values for a in s)
                return pa.array(
                    [None if v is None else fn(v.to_numpy(zero_copy_only=False)) for v in rows]
                )

            return _map(col)
        raise ValueError(f"unknown reducer {r!r}")


# ------------------------------------------------------------------ helpers
def flatten_values(df: DataFrame, array_col: str, keep: Optional[list] = None) -> DataFrame:
    """Exploded flat view of (row keys, position, value) — the reference's
    values-buffer view, distributed (no global offsets needed)."""
    keep = keep or []
    return df.select(*keep, F.posexplode(array_col).alias("pos", "value"))


def with_offsets(df: DataFrame, array_col: str, order_col: str) -> DataFrame:
    """Materialize the reference's (begin, end) global offsets
    (_sparse_slices.py:5-23) relative to `order_col` ordering.

    NOTE: global offsets require a total order — a single-partition
    running sum.  Only meaningful for small exports / golden tests; at
    scale keep sequences as arrays (offsets stay implicit per Arrow
    batch).
    """
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    begin = F.coalesce(F.sum(F.size(array_col)).over(w), F.lit(0))
    return df.withColumn("begin", begin).withColumn("end", begin + F.size(array_col))


def _range_bucket(df: DataFrame, id_col: str, nb: int) -> Column:
    """Order-preserving range bucketing of ``id_col`` into ~``nb``
    buckets: a deterministic hash-gated sample of ids picks nb-1
    splitters (quantile-ish, so skewed id distributions still spread),
    and the bucket is the count of splitters <= id — monotone in the
    id, so packing output stays identical to any other order-preserving
    bucketing (and to the serial one-bucket plan).

    Partition-invariant and rerun-stable: the sample gate is
    ``xxhash64(id) % mod == 0`` — a pure function of the id value.
    Costs one count + one bounded collect (~32*nb ids) before the
    totals pre-pass; pass an explicit ``bucket`` to skip it."""
    n = df.count()
    if n == 0:
        return F.lit(0)
    c = F.col(id_col)
    mod = max(1, n // max(1, nb * 32))
    rows = (
        df.where(F.pmod(F.xxhash64(c.cast("string")), F.lit(mod)) == 0)
        .select(c.alias("__s"))
        .collect()
    )
    ids = sorted({r["__s"] for r in rows if r["__s"] is not None})
    if len(ids) < 2:
        return F.lit(0)
    splitters = sorted({ids[(i * len(ids)) // nb] for i in range(1, nb)})
    b = F.lit(0).cast("long")
    for s in splitters:
        b = b + (c >= F.lit(s)).cast("long")
    return b


def pack_sequences(
    df: DataFrame,
    tokens_col: str,
    id_col: str,
    block_len: int,
    bucket: Optional[Column] = None,
) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing: concatenate all
    token arrays in ``id_col`` order and cut the stream into fixed
    ``block_len`` training blocks (the last block may be short).
    Returns (block_id, tokens, n_tok).

    Distributed prefix-sum in two phases, no global sort:

    1. rows are grouped by an ORDER-PRESERVING ``bucket`` expression
       over the id.  By default one is DERIVED automatically
       (``_range_bucket``: sampled splitters -> ~2x-parallelism range
       buckets), so the prefix-sum window below is parallel out of the
       box; pass ``bucket`` explicitly (e.g. ``F.floor(numeric_id * NB
       / n_rows)`` or a date prefix) to skip the sampling pre-pass.
       One tiny aggregate (per-bucket token totals, NB rows)
       is cumulated on the driver into per-bucket base offsets.
    2. a window prefix-sum WITHIN each bucket + the broadcast base
       gives every document its absolute start; posexplode assigns each
       token its global position; ``block_id = pos div block_len``;
       blocks reassemble with one groupBy (sort_array over (pos, tok)
       structs restores order inside a block).

    Packing order is a pure function of the ids — deterministic,
    partition-invariant, rerun-stable — so block contents are
    reproducible and SQL-verifiable (driver oracle `pack_blocks`).
    Every stage is JVM-side; the shuffle volume is one row per token
    for the final reassembly (the unavoidable cost of exact global
    chunking; per-shard packing avoids it when block provenance may
    stay local)."""
    if bucket is None:
        nb = min(256, 2 * df.sparkSession.sparkContext.defaultParallelism)
        bucket = _range_bucket(df, id_col, nb)
    bkt = bucket.cast("long")
    d = df.select(
        bkt.alias("__b"),
        F.col(id_col).alias("__id"),
        F.col(tokens_col).alias("__t"),
    )
    totals = (
        d.groupBy("__b").agg(F.sum(F.size("__t")).alias("__n")).collect()
    )  # NB rows on the driver — the two-phase scan's tiny middle
    acc, bases = 0, {}
    for b, n in sorted((r["__b"], r["__n"]) for r in totals):
        bases[b] = acc
        acc += n or 0
    if not bases:
        # empty input: F.create_map() would be map<void,void> and fail
        # analysis on the bigint lookup — return the empty output frame
        elem = df.schema[tokens_col].dataType.elementType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"block_id bigint, tokens array<{elem}>, n_tok int"
        )
    base_map = F.create_map(*[F.lit(x) for kv in bases.items() for x in kv])
    # explicit ROWS frame: the default RANGE frame aggregates ORDER BY
    # ties together, so duplicate ids would get overlapping positions
    # and corrupt blocks silently.  With ROWS, ties get disjoint (but
    # order-arbitrary) ranges — ids are expected unique per row.
    w = (
        Window.partitionBy("__b")
        .orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    off = F.sum(F.size("__t")).over(w) - F.size("__t")
    d2 = d.withColumn("__off", base_map[F.col("__b")] + off)
    # Per-(doc, block) SLICES instead of per-token rows (r8): a doc at
    # absolute start s spans blocks s DIV B .. (s+L-1) DIV B, and its
    # contribution to block b is one contiguous token slice whose
    # within-block position is max(s - b*B, 0).  The reassembly shuffle
    # then moves ~1 row per document (short docs) instead of 1 row per
    # TOKEN — same bytes of token payload, ~B-fold fewer rows of
    # per-row/struct overhead, and the per-block array_sort drops from
    # block_len 2-field structs to the handful of doc slices (guide
    # §2.3: aggregate before you shuffle).  Contents are byte-identical
    # to the exploded form: slices of one block are disjoint ranges, so
    # ordering by slice start position == ordering tokens by position.
    B = int(block_len)
    s = F.col("__off")
    L = F.size("__t")
    segs = F.transform(
        F.sequence(
            F.expr(f"__off DIV {B}"),
            F.expr(f"(__off + size(__t) - 1) DIV {B}"),
        ),
        lambda b: F.struct(
            b.alias("block_id"),
            F.greatest(s - b * B, F.lit(0)).cast("int").alias("__bpos"),
            F.slice(
                F.col("__t"),
                (F.greatest(b * B - s, F.lit(0)) + 1).cast("int"),
                (F.least((b + 1) * B, s + L) - F.greatest(b * B, s)).cast("int"),
            ).alias("__seg"),
        ),
    )
    ex = d2.select(F.explode(F.when(L > 0, segs)).alias("__sg")).select(
        F.col("__sg.block_id").alias("block_id"),
        F.col("__sg.__bpos").alias("__bpos"),
        F.col("__sg.__seg").alias("__seg"),
    )
    blocks = (
        ex.groupBy("block_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__bpos", "__seg"))),
                    lambda x: x["__seg"],
                )
            ).alias("tokens"),
            F.sum(F.size("__seg")).cast("int").alias("n_tok"),
        )
    )
    return blocks


def pack_sequences_local(
    df: DataFrame,
    tokens_col: str,
    block_len: int,
) -> DataFrame:
    """Shuffle-FREE sequence packing: each partition concatenates its
    own token stream and chunks it locally, carrying the remainder
    across Arrow batches — zero exchanges, blocks never cross partition
    boundaries (at most one short tail block per partition).

    This is the 100 TB path: `pack_sequences` pays one row-per-token
    shuffle for exact global chunking; here a 1000-partition corpus
    wastes at most 1000 short blocks (~block_len tokens each) and moves
    NOTHING.  Block ids are (partition id << 40) | local seq — globally
    unique, stable for a fixed partitioning (repartition changes block
    contents; use pack_sequences when blocks must be
    partitioning-invariant).  Returns (block_id, tokens, n_tok)."""
    sel = df.select(F.col(tokens_col).alias("__t"))

    def pack(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = pid << 40
        seq = 0
        rem = np.empty(0, dtype=np.int32)

        def emit(blocks):
            nonlocal seq
            n = len(blocks)
            flat = np.concatenate(blocks) if n else np.empty(0, np.int32)
            lens = np.fromiter((len(b) for b in blocks), dtype=np.int32, count=n)
            ids = base + seq + np.arange(n, dtype=np.int64)
            seq += n
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)),
                        pa.array(flat, type=pa.int32()),
                    ),
                    pa.array(lens, type=pa.int32()),
                ],
                ["block_id", "tokens", "n_tok"],
            )

        for b in batches:
            arr = b.column(0)
            flat = pc.list_flatten(arr).to_numpy(zero_copy_only=False).astype(np.int32)
            buf = np.concatenate([rem, flat]) if len(rem) else flat
            n_full = len(buf) // block_len
            if n_full:
                body = buf[: n_full * block_len].reshape(n_full, block_len)
                yield emit(list(body))
            rem = buf[n_full * block_len :]
        if len(rem):
            yield emit([rem])

    return sel.mapInArrow(pack, "block_id bigint, tokens array<int>, n_tok int")
