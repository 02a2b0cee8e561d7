"""Structured Streaming integration.

The reference is batch-only (fit/transform over in-memory shards;
/root/reference/src/torchestra/README.md:74 delegates distribution).
The engine's streaming story follows the feature-store pattern:

* **fit in batch, serve on stream** — a fitted ``Pipeline``'s transform
  is pure Column expressions / Arrow UDFs over frozen state, so it
  applies to a streaming DataFrame unchanged (``apply_pipeline``);
* **point-in-time serving on a stream** — the broadcast as-of strategy
  (operators/temporal.py) is an Arrow-UDF match against a static
  feature table, so ``asof_join(stream_df, features,
  strategy='broadcast')`` works on a streaming probe unchanged (tested
  for batch parity in tests/test_streaming.py);
* **watermarked session windows** — gap-based sessionization on a
  stream uses Spark's native ``session_window`` with a watermark for
  late data (the batch engine's cumulative-sum ``sessionize`` assigns
  per-event ids; ``stream_sessionize_ids`` reproduces those ids
  statefully, and ``stream_sessionize`` aggregates per session);
* **windowed aggregates** — tumbling-window per-entity stats with
  late-data handling.

All sinks are the caller's choice; helpers return the streaming
DataFrame so tests can use a memory sink with ``trigger(availableNow)``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from torchestra_spark.plans.pipeline import Pipeline


def apply_pipeline(stream_df: DataFrame, pipeline: Pipeline, keep_input: bool = True) -> DataFrame:
    """Apply a batch-fitted pipeline's transforms to a streaming frame.

    Works because fitted transforms are stateless expressions (literals
    + broadcast dicts) — the fit happened in batch; nothing here blocks
    streaming execution.
    """
    return pipeline.transform(stream_df, keep_input=keep_input)


def stream_sessionize(
    stream_df: DataFrame,
    entity: str,
    ts: str,
    gap_sec: float,
    watermark_sec: float = 3600.0,
    agg_col: str = "value",
) -> DataFrame:
    """Session aggregates per entity with a late-data watermark:
    (entity, session start/end, n_events, sum(agg_col))."""
    gap = f"{int(gap_sec)} seconds"
    wm = f"{int(watermark_sec)} seconds"
    # watermarks require TIMESTAMP (not NTZ); lossless under UTC session tz
    stream_df = stream_df.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        stream_df.withWatermark(ts, wm)
        .groupBy(F.col(entity), F.session_window(F.col(ts), gap).alias("session"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col(agg_col)).alias(f"sum_{agg_col}"),
        )
        .select(
            entity,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            f"sum_{agg_col}",
        )
    )


def stream_sessionize_ids(
    stream_df: DataFrame,
    entity: str,
    ts: str,
    gap_sec: float,
    id_col: str = "event_id",
) -> DataFrame:
    """Per-EVENT session ids on a stream — the streaming form of the
    batch ``sessionize`` contract (operators/temporal.py), not just
    per-session aggregates.

    Custom stateful operator via ``applyInPandasWithState``: state per
    entity is (last event time, current session id); each micro-batch
    sorts its rows by time, opens a new session wherever the gap from
    the previous event (including the carried state) exceeds
    ``gap_sec``, and emits (id, entity, ts, session_id) rows.  Session
    ids are 0-based per entity, matching batch ``sessionize`` exactly
    for an in-order source (out-of-order late data shifts ids — use the
    aggregate ``stream_sessionize`` + watermark when late data matters).

    Scale: state is two scalars per entity; the only shuffle is the
    groupBy(entity) exchange — the same partitioning as the batch
    window plan.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    id_type = stream_df.schema[id_col].dataType.simpleString()
    ent_type = stream_df.schema[entity].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, `{entity}` {ent_type}, `{ts}` timestamp, session_id bigint"
    state_schema = "last_sec double, sid long"

    sel = stream_df.select(
        F.col(id_col), F.col(entity), F.col(ts).cast("timestamp").alias(ts)
    )

    def assign(key, pdfs, state: GroupState):
        if state.exists:
            last_sec, sid = state.get
        else:
            last_sec, sid = None, -1
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values([ts, id_col], kind="stable", ignore_index=True)
            sec = pdf[ts].astype("int64").to_numpy() / 1e9
            prev = np.r_[np.nan if last_sec is None else last_sec, sec[:-1]]
            boundary = np.isnan(prev) | (sec - prev > gap_sec)
            sids = sid + np.cumsum(boundary.astype(np.int64))
            sid = int(sids[-1])
            last_sec = float(sec[-1])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    entity: pdf[entity],
                    ts: pdf[ts],
                    "session_id": sids,
                }
            )
        state.update((last_sec, sid))

    return sel.groupBy(entity).applyInPandasWithState(
        assign, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_windowed_stats(
    stream_df: DataFrame,
    entity: str,
    ts: str,
    value: str,
    window_sec: float = 3600.0,
    watermark_sec: float = 3600.0,
) -> DataFrame:
    """Tumbling-window per-entity mean/min/max/count with watermark."""
    win = f"{int(window_sec)} seconds"
    wm = f"{int(watermark_sec)} seconds"
    stream_df = stream_df.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        stream_df.withWatermark(ts, wm)
        .groupBy(F.col(entity), F.window(F.col(ts), win).alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.avg(value).alias("mean"),
            F.min(value).alias("min"),
            F.max(value).alias("max"),
        )
        .select(entity, F.col("w.start").alias("window_start"), "n", "mean", "min", "max")
    )


def stream_dedup_exact(
    stream_df: DataFrame,
    text_col: str,
    ts: str,
    watermark_sec: float = 3600.0,
) -> DataFrame:
    """Streaming exact dedup: drop events whose normalized-content
    fingerprint was already seen within the watermark horizon.

    Uses ``dropDuplicatesWithinWatermark`` so the dedup state store is
    BOUNDED by the watermark — a plain streaming ``dropDuplicates``
    accumulates every fingerprint ever seen, which is unbounded state
    on a 100 TB/day ingest.  Within-horizon duplicates are removed
    exactly; a duplicate arriving after its original has aged past the
    watermark is treated as new (the standard trade-off; run the batch
    ``exact_dedup`` compaction downstream for full-history dedup)."""
    from torchestra_spark.functions.text import doc_fingerprint

    wm = f"{int(watermark_sec)} seconds"
    out = (
        stream_df.withColumn(ts, F.col(ts).cast("timestamp"))
        .withColumn("__fp", doc_fingerprint(F.col(text_col)))
        .withWatermark(ts, wm)
        .dropDuplicatesWithinWatermark(["__fp"])
    )
    return out.drop("__fp")


def run_to_memory(
    stream_df: DataFrame, name: str, spark=None, output_mode: str = "append"
) -> DataFrame:
    """Drain a (bounded) stream into an in-memory table with
    trigger(availableNow) and return the result — test/demo helper.
    Use output_mode='complete' for aggregated streams (the watermark
    never passes the final windows of a bounded source, so append would
    withhold them)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    session = spark or stream_df.sparkSession
    return session.table(name)
