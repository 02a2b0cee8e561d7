"""Point-in-time feature store facade — the north-star product surface.

Ties the engine together: as-of joins of feature tables onto an event
spine (leakage-free), window features (lag/lead, fill-forward,
sessionization), fitted normalization/vocabulary pipelines, state
artifacts, and checkpointed resumable materialization.

    store = FeatureStore(entity="user_id", ts="ts")
    store.add_feature_table(purchases, ts="feature_ts", name="purch")
    store.add_lags("value", lags=(1, 2))
    store.add_sessionization(gap_sec=1800)
    store.add_pipeline(Pipeline({
        "value_z": Feature("value", [StandardScore()]),
    }))
    fv = store.build(events)                       # fit + transform
    store.materialize(fv, "/out")                  # checkpointed write
    store.save_state("/out/_state.json")

``materialize`` is resumable as it stands: re-running it on the same
path writes only the buckets that have no manifest yet (none after a
complete run).  Pass ``fingerprint=input_fingerprint(paths)`` to tie
the manifests to the input files, so a run over changed input rewrites
every bucket.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from torchestra_spark.checkpoint import CheckpointedWriter
from torchestra_spark.operators.temporal import (
    asof_join_multi,
    fill_forward,
    lag_lead,
    rolling_stats,
    sessionize,
)
from torchestra_spark.plans.pipeline import Pipeline
from torchestra_spark.state import StateArtifact


class FeatureStore:
    def __init__(self, entity: str, ts: str, order_tiebreak: Optional[str] = None):
        self.entity = entity
        self.ts = ts
        self._order = [ts] + ([order_tiebreak] if order_tiebreak else [])
        self._feature_tables: List[dict] = []  # asof_join_multi specs
        self._lags: List[Tuple[str, Sequence[int], Sequence[int]]] = []
        self._rolling: List[Tuple[str, float, Tuple[str, ...]]] = []
        self._ffill: List[str] = []
        self._session_gap: Optional[float] = None
        self._pipeline: Optional[Pipeline] = None

    # ------------------------------------------------------------ declaration
    def add_feature_table(
        self,
        df: DataFrame,
        ts: str,
        name: str,
        value_cols: Optional[Sequence[str]] = None,
        strategy: str = "union",
        tolerance_sec: Optional[float] = None,
        salt_buckets: int = 1,
        salt_threshold: Optional[int] = None,
    ) -> "FeatureStore":
        """Point-in-time join this table's latest values (<= event ts).

        ``build`` joins all tables in ONE ``asof_join_multi`` call (the
        probe spine moves once, whatever the table count) and
        ``serve_stream`` in one ``strategy="broadcast"`` call.  The
        ``build`` call takes the tables' ``strategy`` when they all
        declare the same one, and ``"union"`` otherwise; the default is
        ``"union"``, the others are ``"auto"`` and ``"broadcast"``
        (``"merge_asof"`` raises ``ValueError``: the fused pass has no
        cogroup kernel).  The one shared hot-key pass uses the largest
        ``salt_buckets`` and the lowest ``salt_threshold`` of all
        tables."""
        if strategy not in ("union", "auto", "broadcast"):
            raise ValueError(
                f"feature table {name!r}: strategy must be 'union', 'auto' or "
                f"'broadcast', got {strategy!r}"
            )
        self._feature_tables.append(
            dict(
                name=name,
                df=df,
                ts=ts,
                value_cols=list(value_cols) if value_cols else None,
                tolerance_sec=tolerance_sec,
                strategy=strategy,
                salt_buckets=salt_buckets,
                salt_threshold=salt_threshold,
            )
        )
        return self

    def add_lags(self, col: str, lags: Sequence[int] = (1,), leads: Sequence[int] = ()) -> "FeatureStore":
        self._lags.append((col, tuple(lags), tuple(leads)))
        return self

    def add_fill_forward(self, *cols: str) -> "FeatureStore":
        self._ffill.extend(cols)
        return self

    def add_sessionization(self, gap_sec: float) -> "FeatureStore":
        self._session_gap = gap_sec
        return self

    def add_rolling(
        self, col: str, window_sec: float, stats: Sequence[str] = ("mean", "min", "max", "count")
    ) -> "FeatureStore":
        """Trailing time-range window features over ``col`` (one
        range-frame pass per declaration)."""
        self._rolling.append((col, float(window_sec), tuple(stats)))
        return self

    def add_pipeline(self, pipeline: Pipeline) -> "FeatureStore":
        self._pipeline = pipeline
        return self

    # ------------------------------------------------------------- execution
    def build(self, events: DataFrame, fit: bool = True) -> DataFrame:
        """Assemble the feature vector: as-of joins -> window features ->
        fitted pipeline transform.  ``fit=False`` reuses loaded state."""
        tables = self._feature_tables
        strategies = {t["strategy"] for t in tables}
        df = asof_join_multi(
            events,
            tables,
            on=self.entity,
            left_ts=self.ts,
            salt_buckets=max((t["salt_buckets"] for t in tables), default=1),
            salt_threshold=min(
                (t["salt_threshold"] for t in tables if t["salt_threshold"] is not None),
                default=None,
            ),
            strategy=strategies.pop() if len(strategies) == 1 else "union",
        )
        for col, lags, leads in self._lags:
            df = lag_lead(df, self.entity, self._order, col, lags=lags, leads=leads)
        for col, win, stats in self._rolling:
            df = rolling_stats(df, self.entity, self.ts, col, win, stats=stats)
        if self._ffill:
            df = fill_forward(df, self.entity, self._order, self._ffill)
        if self._session_gap is not None:
            df = sessionize(df, self.entity, self._order, self._session_gap)
        if self._pipeline is not None:
            if fit:
                self._pipeline.fit(df)
            df = self._pipeline.transform(df)
        return df

    def serve_stream(self, events_stream: DataFrame) -> DataFrame:
        """Serve the store to a LIVE event stream: all feature tables
        join point-in-time in one broadcast as-of call (static feature
        snapshots shipped to every task + one vectorized searchsorted
        match per Arrow batch for all tables — zero shuffle of the
        stream and one Python crossing, streaming-legal because no
        batch-only op touches the stream side), then the batch-fitted
        pipeline's transforms apply unchanged (pure Column exprs over
        frozen state).

        Requirements: ``build(events, fit=True)`` (or ``load_state``)
        must have run first so pipeline state is frozen, and each
        feature table must fit the broadcast budget — the same contract
        as ``asof_join(strategy='broadcast')``.  Window features (lags,
        rolling, sessionization) are fit-time history ops; for their
        streaming twins use ``streaming.stream_sessionize_ids`` /
        ``stream_windowed_stats`` explicitly."""
        out = asof_join_multi(
            events_stream, self._feature_tables, on=self.entity, left_ts=self.ts,
            strategy="broadcast",
        )
        if self._pipeline is not None:
            out = self._pipeline.transform(out)
        return out

    def assert_leakage_free(self, built: DataFrame) -> None:
        """Hard gate: every matched feature timestamp <= event ts."""
        for t in self._feature_tables:
            c = f"{t['name']}_matched_ts"
            n = built.filter(F.col(c) > F.col(self.ts)).count()
            if n:
                raise AssertionError(f"temporal leakage: {n} rows in {c}")

    def materialize(
        self,
        built: DataFrame,
        path: str,
        n_buckets: int = 64,
        wave_size: Optional[int] = None,
        fingerprint: str = "",
    ) -> None:
        """Checkpointed, resumable bucketed write keyed on the entity, in
        one write job unless ``wave_size`` bounds each job's buckets."""
        CheckpointedWriter(
            path, key_col=self.entity, n_buckets=n_buckets,
            wave_size=wave_size, fingerprint=fingerprint,
        ).run(built)

    # ------------------------------------------------------------------ state
    def save_state(self, path: str) -> None:
        if self._pipeline is not None:
            self._pipeline.save_state(path)
        else:
            StateArtifact({}).save(path)

    def load_state(self, path: str) -> "FeatureStore":
        if self._pipeline is not None:
            self._pipeline.load_state(path)
        return self
