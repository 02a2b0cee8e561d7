"""Sources: parquet table loaders + deterministic synthetic generators.

The driver's primary input (BASELINE.json input_hint) is an
Iceberg-style table of pre-tokenized sequences
``(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)``.
``tokenized_sequences`` synthesizes it **distributed and
partition-invariant**: every cell is derived from a counter-based hash
of (seed, row id), so the same (seed, n_rows) yields bit-identical
tables regardless of parallelism — generation scales linearly with
executors and supports 10^12-row scale-out (no driver-side data).

FIXTURES.md F1 spec: tokens length ~ geometric(p=0.02) clipped to
[0,512], values uniform [0, 50257), source in {web,book,code,wiki}
with probs .6/.2/.1/.1, n_tok == size(tokens).
"""

from __future__ import annotations

import math
from typing import Iterator, List, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

TOKENIZED_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_SOURCES = np.array(["web", "book", "code", "wiki"])
_SOURCE_CUM = np.array([0.6, 0.8, 0.9, 1.0])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def write_partitioned(
    df: DataFrame, path: str, partition_cols: List[str], mode: str = "overwrite"
) -> None:
    """Write an Iceberg-layout (hive-partitioned) parquet table.  At
    cluster scale this is the layout that makes partition pruning and
    resume-by-partition free; pair with CheckpointedWriter for lineage."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned table; equality/range filters on the partition
    columns prune directories at planning time (verify with
    .explain(): PartitionFilters)."""
    return spark.read.parquet(path)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based vectorized hash (public splitmix64 constants)."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _uniform(ids: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Deterministic U[0,1) per id — independent of partitioning."""
    h = _splitmix64(ids.astype(np.uint64) ^ _splitmix64(np.uint64(seed * 1_000_003 + salt)))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def tokenized_sequences(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    max_len: int = 512,
    vocab: int = 50257,
    geo_p: float = 0.02,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Synthesize the input_hint table, fully distributed."""
    base = spark.range(0, n_rows, 1, numPartitions=partitions)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(0).to_numpy()
            u_len = _uniform(ids, seed, 1)
            lens = np.clip(
                np.floor(np.log1p(-u_len) / math.log1p(-geo_p)).astype(np.int64), 0, max_len
            )
            u_src = _uniform(ids, seed, 2)
            src = _SOURCES[np.searchsorted(_SOURCE_CUM, u_src, side="right")]
            # token values: hash of (row id, position) — vectorized over
            # the whole batch via repeat + cumcount
            total = int(lens.sum())
            row_rep = np.repeat(ids, lens)
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
            tok_u = _uniform(row_rep * np.int64(1 << 20) + pos, seed, 3)
            toks = (tok_u * vocab).astype(np.int32)
            offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.char.add("doc", np.char.zfill(ids.astype(str), 10))),
                    pa.ListArray.from_arrays(pa.array(offsets), pa.array(toks)),
                    pa.array(lens.astype(np.int32)),
                    pa.array(src),
                ],
                ["doc_id", "tokens", "n_tok", "source"],
            )

    return base.mapInArrow(gen, TOKENIZED_SCHEMA)


FEATURE_EVENTS_SCHEMA = (
    "user_id long, feature_ts timestamp, fval double, seq long"
)


def feature_events(
    spark: SparkSession,
    n_entities: int = 1000,
    mean_events: float = 20.0,
    seed: int = 42,
    zipf_a: float = 1.3,
    start: str = "2026-01-01",
    days: float = 30.0,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Feature-side table for point-in-time joins (FIXTURES.md F2):
    per-entity poisson-ish arrivals with a random-walk value.  Entity
    sizes follow a zipf-like law so hot keys exercise skew handling.
    Deterministic per (seed, entity), partition-invariant (each entity's
    walk generated whole inside its mapInArrow batch row)."""
    base = spark.range(0, n_entities, 1, numPartitions=partitions)
    t0 = int(np.datetime64(start, "us").astype(np.int64))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            out_uid: List[np.ndarray] = []
            out_ts: List[np.ndarray] = []
            out_val: List[np.ndarray] = []
            out_seq: List[np.ndarray] = []
            for uid in b.column(0).to_numpy():
                # zipf-ish event count: rank-based power law, >= 1
                n = max(1, int(mean_events * (uid + 1) ** (-zipf_a / 4) * 4))
                ks = np.arange(n, dtype=np.int64)
                gaps = -np.log(1.0 - _uniform(uid * np.int64(1 << 24) + ks, seed, 11)) * (
                    days * 86400.0 / n
                )
                ts = (t0 + (np.cumsum(gaps) * 1e6)).astype(np.int64)
                steps = _uniform(uid * np.int64(1 << 24) + ks, seed, 12) - 0.5
                fval = np.cumsum(steps)
                out_uid.append(np.full(n, uid, dtype=np.int64))
                out_ts.append(ts)
                out_val.append(fval)
                out_seq.append(ks)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_uid)),
                    pa.array(np.concatenate(out_ts), pa.timestamp("us", tz="UTC")),
                    pa.array(np.concatenate(out_val)),
                    pa.array(np.concatenate(out_seq)),
                ],
                ["user_id", "feature_ts", "fval", "seq"],
            )

    return base.mapInArrow(gen, FEATURE_EVENTS_SCHEMA)


# ----------------------------------------------------------- bucketed layout
def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_cols: Optional[List[str]] = None,
    path: Optional[str] = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a table bucketed by ``bucket_col`` (hash-partitioned
    into ``n_buckets`` files) and sorted by ``sort_cols`` within each
    bucket.

    This is the repeat-join/feature-store layout: a bucketed scan
    reports HashPartitioning(bucket_col) to Catalyst, so every
    downstream entity-partitioned operator — window functions
    (lag/lead/ffill/sessionize), groupBy(entity) fits, and sort-merge
    joins against a same-bucketed table — runs with NO Exchange on this
    side.  At 100 TB, paying one bucketed write once removes the
    biggest shuffle from every subsequent query
    (see tests/test_featurestore.py explain-plan assertions).
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata only survives the catalog
    — reading the bare parquet path would lose HashPartitioning)."""
    return spark.table(table)
