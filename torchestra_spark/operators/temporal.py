"""Point-in-time / temporal operators — the north-rule core.

The reference library has no temporal ops (its lookups are the only
join-like construct); these extend its fit/transform engine into a
point-in-time feature store over entity x timestamp data, per the
north rule: as-of join with explicit skew handling, lag/lead,
fill-forward backfill, gap-based sessionization — zero temporal leakage
(every joined feature_ts <= event ts).

Scale design notes
------------------
* One as-of engine: ``asof_join_multi`` joins k >= 1 feature tables
  onto a probe spine and ``asof_join`` is its k=1 case.  Feature rows
  whose ts is NULL are dropped once, where the table specs are
  normalized, as are feature rows whose entity is NULL, so every
  strategy sees the same input.
* The default strategy is ``"auto"``: when every feature side is
  provably small (a free Catalyst size estimate, then one confirming
  ``count()``) it takes the **broadcast kernel** — each table ships to
  every task as sorted Arrow/numpy arrays and one Arrow UDF matches
  each Arrow batch of the probe with vectorized ``searchsorted``, so
  the (wide) probe side is never shuffled.  Otherwise it takes
  ``"union"``.
* ``"union"``: union-tag + window fill-forward — one shuffle on the
  entity key and one window scan for all k tables, fully JVM-side
  (whole-stage codegen, no UDF).  The scale-out path when a feature
  side does not fit executor memory: at 1000 executors it is a plain
  hash-partitioned sort, the cost profile of a sort-merge join.
* ``"merge_asof"`` (``asof_join`` only) co-groups both sides by entity
  and runs the broadcast match kernel per group inside an Arrow
  co-group (``applyInArrow``).
* Skew: a single hot entity lands in one window partition.  The
  ``salt_buckets`` option splits each hot entity's *probe* rows into N
  hash(ts)-buckets and replicates its (much smaller) feature history
  into every bucket — preserving point-in-time order within each bucket
  while spreading the hot entity over N tasks.  AQE's skew-join
  splitting handles residual imbalance.
* Window ops (lag/lead/ffill/sessionize) are single-shuffle Catalyst
  window functions partitioned by entity.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType


def _ts_sec(col: Column) -> Column:
    """Timestamp -> epoch seconds (double).  TIMESTAMP_NTZ can't cast to
    numeric in Spark 4; route through TIMESTAMP (lossless under the
    engine's UTC session timezone, see session.py)."""
    return col.cast("timestamp").cast("double")


def _micros(ts: str | Column) -> Column:
    """Epoch microseconds of a DATE, TIMESTAMP or TIMESTAMP_NTZ column
    (a name or a Column; via TIMESTAMP, lossless under the engine's UTC
    session timezone): the one time axis of every as-of tolerance test,
    on both sides."""
    return F.unix_micros((F.col(ts) if isinstance(ts, str) else ts).cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "feature_ts",
    value_cols: Optional[Sequence[str]] = None,
    tolerance_sec: Optional[float] = None,
    strategy: str = "auto",
    salt_buckets: int = 1,
    salt_threshold: Optional[int] = None,
    keep_right_ts: bool = True,
) -> DataFrame:
    """Backward as-of join of one feature table: for every left row,
    attach the latest right row of the same entity with
    ``right_ts <= left_ts`` (exact matches allowed — pandas
    ``merge_asof`` semantics) as ``value_cols`` (default: every right
    column but ``on`` and ``right_ts``) plus ``matched_{right_ts}``,
    which ``keep_right_ts=False`` drops.

    This is the k=1 case of :func:`asof_join_multi`, one engine with
    three strategies that return identical rows: ``"union"`` (window
    fill-forward over one entity shuffle), ``"broadcast"`` (the
    vectorized kernel over a broadcast feature table; the probe is
    never shuffled) and ``"merge_asof"`` (only here: co-group by
    entity and run the broadcast match kernel per group).  ``"auto"``
    (default) picks broadcast when the feature side is provably small,
    else union; see :func:`asof_join_multi` for the gate, tolerance
    and skew salting.

    Leakage-free by construction: joined values only ever come from
    right rows at or before the probe timestamp.  Feature rows whose
    ``right_ts`` or ``on`` is NULL are ignored by every strategy, so a
    NULL entity never matches (SQL ``=`` semantics).  Precondition:
    probe timestamps must be non-null (a NULL event time has no
    point-in-time meaning); filter them upstream.
    """
    spec = dict(name="__asof", df=right, ts=right_ts, value_cols=value_cols,
                tolerance_sec=tolerance_sec)
    matched = f"matched_{right_ts}"
    if strategy == "merge_asof":
        out = _asof_merge(left, _specs(left, [spec], on)[0], on, left_ts, matched)
    else:
        out = asof_join_multi(left, [spec], on, left_ts, salt_buckets, salt_threshold, strategy)
        out = out.withColumnRenamed("__asof_matched_ts", matched)
    return out if keep_right_ts else out.drop(matched)


def asof_join_multi(
    left: DataFrame,
    tables: Sequence[dict],
    on: str,
    left_ts: str = "ts",
    salt_buckets: int = 1,
    salt_threshold: Optional[int] = None,
    strategy: str = "auto",
) -> DataFrame:
    """Backward as-of join of k >= 1 feature tables onto one probe
    spine in one pass — the library's one as-of engine: ``asof_join``
    is its k=1 case and adds only the ``"merge_asof"`` strategy.

    ``tables`` is a sequence of specs::

        dict(name="purch", df=purchases, ts="feature_ts",
             value_cols=None, tolerance_sec=None)

    Per table: the latest row of the same entity with
    ``ts <= left_ts`` (exact ties match), emitted as the table's value
    columns (``value_cols=None``: every column but ``on`` and ``ts``)
    plus ``{name}_matched_ts``.  With ``tolerance_sec`` a match older
    than that many seconds counts as none.  Feature rows whose ts or
    entity is NULL are ignored, so a probe row with a NULL entity never
    matches.

    Strategy — all return identical rows:

    * ``"auto"`` (default): ``"broadcast"`` when EVERY feature side is
      provably small — each Catalyst size estimate under 64 MiB,
      all k checked before any count is paid, then one
      confirming row count per table under the broadcast guardrail —
      else ``"union"``.  The reasoning of Spark's own
      ``autoBroadcastJoinThreshold``: broadcasting the side that fits
      removes the only shuffle of the (wide, 10^12-row at scale) probe
      side.  Explicit ``salt_buckets`` declares skew for the shuffle
      path, so it forces union; ``"union"`` skips the gate.
    * ``"union"``: every table's payload rides its own nullable struct
      column on one shared union spine; the k
      ``last(struct_k, ignorenulls=True)`` window functions share one
      window spec, so Catalyst evaluates them in ONE Window operator
      over ONE entity Exchange + sort — the probe spine moves once, not
      once per table.  Per-table fill-forwards stay independent because
      rows of table j carry NULL in table k's struct.
    * ``"broadcast"``: force the kernel; raises above the row guardrail.
      One Arrow crossing matches all k tables.

    Skew (``salt_buckets > 1``, union): one shared hot-key pass over
    the probe side finds the entities with ``>= salt_threshold`` probe
    rows (default ``DEFAULT_SALT_THRESHOLD``); their probe rows split
    into hash(ts) buckets and every table's feature rows for them
    replicate into all buckets.  Cold entities keep the plain path and
    pay nothing."""
    specs = _specs(left, tables, on)
    if not specs:
        return left
    if _use_broadcast(specs, strategy, salt_buckets):
        return _asof_broadcast_multi(left, specs, on, left_ts)
    ts = "__ts"
    side = "__side"  # 0 = feature (sorts first at ties), 1 = probe
    bucket = "__bucket"
    l_schema = left.schema
    l_cols = l_schema.names
    # All payload rides ONE struct per feature row: matched ts + every
    # value column.  Filling forward last(struct, ignorenulls=True)
    # picks the latest *feature row as a whole*, so a feature row whose
    # value is SQL NULL still wins (the probe sees NULL value + its
    # matched ts) — exact pandas merge_asof semantics.
    for k, sp in enumerate(specs):
        schema = sp["schema"]
        sp["fv"] = f"__fv{k}"
        sp["fv_type"] = StructType(
            [StructField("__mts", schema[sp["ts"]].dataType)]
            + [StructField(f"__v_{c}", schema[c].dataType) for c in sp["value_cols"]]
        )

    lhs = left.select(
        *[F.col(c) for c in l_cols],
        F.col(left_ts).alias(ts),
        F.lit(1).alias(side),
        *[F.lit(None).cast(sp["fv_type"]).alias(sp["fv"]) for sp in specs],
    )
    sides = [lhs]
    for k, sp in enumerate(specs):
        right, rts = sp["df"], sp["ts"]
        sides.append(
            right.select(
                *[
                    (F.col(on) if c == on else F.lit(None).cast(l_schema[c].dataType)).alias(c)
                    for c in l_cols
                ],
                F.col(rts).alias(ts),
                F.lit(0).alias(side),
                *[
                    (
                        F.struct(
                            F.col(rts).alias("__mts"),
                            *[F.col(c).alias(f"__v_{c}") for c in sp["value_cols"]],
                        )
                        if j == k
                        else F.lit(None).cast(specs[j]["fv_type"])
                    ).alias(specs[j]["fv"])
                    for j in range(len(specs))
                ],
            )
        )

    salted = salt_buckets > 1
    hot_keys = (
        _hot_keys(left, on, salt_threshold or DEFAULT_SALT_THRESHOLD) if salted else []
    )
    if salted and hot_keys:
        tag = _hot_tagger(left.sparkSession, on, hot_keys)
        sides = [_salt_probe(tag(sides[0]), ts, bucket, salt_buckets)] + [
            _salt_feature(tag(r), bucket, salt_buckets) for r in sides[1:]
        ]
        part = [on, bucket]
    else:
        part = [on]

    u = sides[0]
    for r in sides[1:]:
        u = u.unionByName(r)
    w = Window.partitionBy(*part).orderBy(F.col(ts).asc(), F.col(side).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    proj: List[Column] = [F.col(c) for c in l_cols]
    for sp in specs:
        ff = F.last(F.col(sp["fv"]), ignorenulls=True).over(w)
        if sp["tol_us"] is not None:
            in_tol = ff["__mts"].isNotNull() & (
                _micros(ts) - _micros(ff["__mts"]) <= F.lit(sp["tol_us"])
            )
            proj += [F.when(in_tol, ff[f"__v_{c}"]).alias(c) for c in sp["value_cols"]]
            proj.append(F.when(in_tol, ff["__mts"]).alias(sp["matched"]))
        else:
            proj += [ff[f"__v_{c}"].alias(c) for c in sp["value_cols"]]
            proj.append(ff["__mts"].alias(sp["matched"]))
    return u.select(*proj, F.col(side)).filter(F.col(side) == 1).drop(side)


def _specs(left: DataFrame, tables: Sequence[dict], on: str) -> List[dict]:
    """Normalized copies of the table specs, shared by every strategy:
    ``value_cols=None`` becomes every column but the key and ts, the
    schema is read once, the output name ``{name}_matched_ts`` is
    fixed, the tolerance ``tol_us`` is in whole microseconds (rounded:
    1.001 s is 1,001,000 us, not the truncated 1,000,999), and feature
    rows whose ts or entity is NULL are dropped — a NULL feature ts has
    no point-in-time meaning (the union spine would sort it first and
    fill its value forward with no matched ts), and a NULL entity equals
    no entity, NULL included.  Raises on colliding output columns."""
    specs: List[dict] = []
    out_names = list(left.columns)
    for t in tables:
        sp = dict(t)
        right, rts = sp["df"], sp["ts"]
        sp["schema"] = right.schema
        sp["value_cols"] = list(
            sp["value_cols"]
            if sp.get("value_cols") is not None
            else [c for c in sp["schema"].names if c not in (on, rts)]
        )
        sp["df"] = right.filter(F.col(on).isNotNull() & F.col(rts).isNotNull())
        sp["matched"] = f"{sp['name']}_matched_ts"
        tol = sp.get("tolerance_sec")
        sp["tol_us"] = None if tol is None else round(tol * 1_000_000)
        for c in sp["value_cols"] + [sp["matched"]]:
            if c in out_names:
                raise ValueError(
                    f"asof_join_multi: output column {c!r} of table "
                    f"{sp['name']!r} collides with an earlier column; "
                    "pass value_cols / rename to disambiguate"
                )
            out_names.append(c)
        specs.append(sp)
    return specs


# Auto-strategy gate: feature sides whose Catalyst size ESTIMATE is
# under this take the broadcast kernel (after a confirming count).
# Estimates can be wrong both ways after filters/aggregates: an
# overestimate only costs the (still-correct) union path, an
# underestimate is caught by the count confirmation — never an OOM'd
# broadcast.
_AUTO_BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def _auto_stats_small(right: DataFrame) -> bool:
    """Free Catalyst plan-statistics gate: True when the optimizer
    estimates ``right`` under the auto-broadcast byte threshold."""
    try:
        raw = right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala.BigInt to a Python int; keep a string fallback
        est = raw if isinstance(raw, int) else int(str(raw))
    except Exception:  # pragma: no cover - stats are best-effort
        return False
    return est <= _AUTO_BROADCAST_MAX_BYTES


def _use_broadcast(specs: Sequence[dict], strategy: str, salt_buckets: int) -> bool:
    """The strategy gate: True for the broadcast kernel, False for the
    union spine.  For ``"auto"``: the k free statistics gates first, so
    one oversized table decides union before any count job is paid,
    then one count per (estimated-small) table to confirm.  Residual
    risk: both gates can be fooled together when Catalyst underestimates
    a <=5M-row frame of very wide rows (the row guardrail bounds rows,
    not bytes) — pass ``strategy="union"`` for such workloads."""
    if strategy == "broadcast":
        for sp in specs:
            n = sp["df"].count()
            if n > _BROADCAST_MAX_ROWS:
                raise ValueError(
                    f"feature side {sp['name']!r} has {n} rows; too large to "
                    "broadcast — use strategy='union'"
                )
        return True
    if strategy == "union":
        return False
    if strategy != "auto":
        raise ValueError(f"unknown strategy {strategy!r}")
    if salt_buckets > 1:
        return False
    return all(_auto_stats_small(sp["df"]) for sp in specs) and all(
        sp["df"].count() <= _BROADCAST_MAX_ROWS for sp in specs
    )


# Probe rows per entity above which a key counts as hot and gets salted.
# A cold entity's window partition sorts fine in one task; only keys
# beyond this actually skew a 1000-executor shuffle.
DEFAULT_SALT_THRESHOLD = 1_000_000


# Hot-key detection samples this fraction of the probe side once the
# threshold is large enough for sampling to be statistically safe —
# a 20-100x cheaper pre-pass on huge tables.  Salting is correctness-
# preserving for ANY key subset, so sampling can only cost a little
# skew protection at the threshold boundary, never correctness.
_SALT_SAMPLE_FRACTION = 0.05
_SALT_SAMPLE_MIN_THRESHOLD = 10_000  # below this, count exactly


def _hot_keys(left: DataFrame, on: str, threshold: int) -> list:
    """Entities with >= threshold probe rows, collected to the driver.
    One map-side-combined count per key (over a sample when the
    threshold is large); the result is <= total_rows/threshold keys —
    small by construction, so collecting (and later broadcasting) it is
    always safe.  Collecting lets the planner skip the whole salting
    machinery when nothing is hot."""
    src, cutoff = left, threshold
    if threshold >= _SALT_SAMPLE_MIN_THRESHOLD:
        src = left.sample(fraction=_SALT_SAMPLE_FRACTION, seed=7)
        # halved cutoff: catch keys whose sampled count undershoots
        cutoff = max(1, int(threshold * _SALT_SAMPLE_FRACTION * 0.5))
    rows = (
        src.groupBy(on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= cutoff)
        .select(F.col(on))
        .collect()
    )
    return [r[0] for r in rows]


def _hot_tagger(spark, on: str, hot_keys: list):
    """Returns a function adding a boolean ``__hot`` column marking the
    hot entities.  Skew-aware salting applies ONLY to these keys: hot
    probe rows route to hash(ts) % N buckets and hot feature rows
    replicate into all N buckets (each bucket sees the full feature
    history, so point-in-time order is preserved).  Cold entities stay
    in bucket 0 unreplicated — at a zipf distribution this keeps feature
    shuffle volume ~1x instead of xN."""
    if len(hot_keys) <= 10_000:
        # literal IN-set: stays inside whole-stage codegen
        def tag(df: DataFrame) -> DataFrame:
            return df.withColumn("__hot", F.col(on).isin(hot_keys))

        return tag
    # very wide hot sets ride a broadcast-join marker instead of a
    # mile-long literal expression
    hot_df = F.broadcast(
        spark.createDataFrame([(k,) for k in hot_keys], [on]).withColumn(
            "__hot_m", F.lit(True)
        )
    )

    def tag(df: DataFrame) -> DataFrame:
        return (
            df.join(hot_df.withColumnRenamed(on, "__hk"), df[on] == F.col("__hk"), "left")
            .withColumn("__hot", F.col("__hot_m").isNotNull())
            .drop("__hk", "__hot_m")
        )

    return tag


def _salt_probe(tagged: DataFrame, ts: str, bucket: str, salt_buckets: int) -> DataFrame:
    zero = F.lit(0).cast("bigint")
    return tagged.withColumn(
        bucket,
        F.when(F.col("__hot"), F.pmod(F.xxhash64(F.col(ts)), F.lit(salt_buckets))).otherwise(zero),
    ).drop("__hot")


def _salt_feature(tagged: DataFrame, bucket: str, salt_buckets: int) -> DataFrame:
    zero = F.lit(0).cast("bigint")
    return tagged.withColumn(
        bucket,
        F.explode(
            F.when(
                F.col("__hot"),
                F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<bigint>"),
            ).otherwise(F.array(zero))
        ),
    ).drop("__hot")


def _asof_merge(left: DataFrame, sp: dict, on: str, left_ts: str, matched: str) -> DataFrame:
    """``asof_join(strategy="merge_asof")`` for one normalized spec:
    co-group both sides by entity and run the broadcast match kernel
    (``_bcast_build`` + ``_bcast_match_idx``) on each group, one Arrow
    table per side — no per-row Python, and values cross untouched, so
    NaN stays NaN and bigints stay exact, as in the other strategies.

    Partition-boundary-correct because grouping is on the entity key
    only (never on time), so an entity's full feature history is
    visible to its probe rows.
    """
    schema, value_cols, tol_us = sp["schema"], sp["value_cols"], sp["tol_us"]
    l_cols = left.columns
    # value fields are nullable whatever the feature table declares: an
    # unmatched probe row gets NULL in every one of them
    out_schema = StructType(
        left.schema.fields
        + [StructField(c, schema[c].dataType) for c in value_cols]
        + [StructField("__matched_us", LongType())]
    )
    # timestamps reach the worker in the session time zone but must
    # leave it as UTC; the cast only relabels them (same instants)
    arrow_schema = to_arrow_schema(out_schema)

    def match(lt: pa.Table, rt: pa.Table) -> pa.Table:
        tb = _bcast_build(rt)
        idx = _bcast_match_idx(tb, lt[on].combine_chunks(), lt["__t"].combine_chunks(), tol_us)
        out = lt.select(l_cols)
        for c in value_cols:
            out = out.append_column(c, tb["cols"][c].take(idx))
        return out.append_column("__matched_us", tb["cols"]["__t"].take(idx)).cast(arrow_schema)

    probe = left.withColumn("__t", _micros(left_ts))
    out = probe.groupBy(on).cogroup(_bcast_side(sp, on).groupBy("__e")).applyInArrow(match, out_schema)
    return out.select(
        *l_cols,
        *value_cols,
        F.timestamp_micros(F.col("__matched_us")).cast(schema[sp["ts"]].dataType).alias(matched),
    )


# Broadcast guardrail: each feature row costs ~8B (ts) + 8-ish B per
# value column as contiguous arrays, plus its entity.  5M rows ~ a few
# hundred MB per executor — the realistic ceiling for a
# torrent-broadcast table that every Python worker must hold.
_BROADCAST_MAX_ROWS = 5_000_000


def _bcast_side(sp: dict, on: str) -> DataFrame:
    """The match kernel's view of one normalized feature table: entity
    ``__e``, epoch-micros ``__t`` and the value columns."""
    return sp["df"].select(
        F.col(on).alias("__e"), _micros(sp["ts"]).alias("__t"), *[F.col(c) for c in sp["value_cols"]]
    )


def _bcast_build(tbl: pa.Table) -> dict:
    """Match index over an Arrow table of ``_bcast_side`` columns: flat
    (entity-code, ts, values) arrays sorted by (entity, ts), so each
    entity's history is one contiguous block.  The table holds no NULL
    entity or ts (``_specs`` drops them), so the composed key array
    below is strictly increasing."""
    tbl = tbl.sort_by([("__e", "ascending"), ("__t", "ascending")])
    e = tbl["__e"].combine_chunks()
    cols = {c: tbl[c].combine_chunks() for c in tbl.column_names if c != "__e"}
    # dense entity codes in sorted order (``unique`` keeps first
    # occurrence), so the code column is itself non-decreasing
    ents = pc.unique(e)
    codes = pc.index_in(e, value_set=ents).to_numpy().astype(np.int64)
    t = cols["__t"].to_numpy()
    # rank-composed key (r8): key_i = code_i * (N+1) + global_rank(t_i)
    # is strictly increasing (codes ascend; within a code, t ascends and
    # the stable global rank preserves tie order), so ONE searchsorted
    # against it answers "latest row of THIS code with t <= probe_t" for
    # a whole batch — replacing the per-distinct-code Python loop that
    # dominated the match kernel.  Fits int64: codes and N are each
    # bounded by _BROADCAST_MAX_ROWS (5M < 2^23), product < 2^46.
    n = len(t)
    order = np.argsort(t, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n, dtype=np.int64)
    return {
        "ents": ents,
        "codes": codes,
        "t_sorted": t[order],
        "keys": codes * np.int64(n + 1) + rank,
        "cols": cols,
    }


def _bcast_match_idx(tb: dict, entity: pa.Array, ts_us: pa.Array, tol_us) -> pa.Array:
    """Vectorized backward-as-of match of a probe batch against a
    broadcast table: entity -> code via one ``index_in``, probe t ->
    global t rank via one ``searchsorted``, then ONE ``searchsorted`` of
    the composed (code, rank) keys against the table's precomputed
    strictly-increasing key array (``_bcast_build``) — no per-code loop,
    no per-row Python.  Returns int64 row indices into the table's
    arrays, NULL where unmatched (also for a NULL entity or ts)."""
    b_codes, b_t = tb["codes"], tb["cols"]["__t"].to_numpy()
    if len(b_t) == 0:
        # a gather would index position 0 of zero-length arrays
        return pa.nulls(len(entity), pa.int64())
    # unknown entity -> code -1: its composed key is < every table key
    # (ub <= N so -1*(N+1) + ub - 1 < 0), landing at p = -1 -> unmatched
    kc = pc.index_in(entity, value_set=tb["ents"], skip_nulls=True).fill_null(-1)
    kc = kc.to_numpy().astype(np.int64)
    kt = ts_us.fill_null(0).to_numpy()
    n = np.int64(len(b_t) + 1)
    ub = np.searchsorted(tb["t_sorted"], kt, side="right")
    p = np.searchsorted(tb["keys"], kc * n + ub - 1, side="right") - 1
    gather = np.maximum(p, 0)
    valid = (p >= 0) & (b_codes[gather] == kc) & ts_us.is_valid().to_numpy(zero_copy_only=False)
    if tol_us is not None:
        valid &= kt - b_t[gather] <= tol_us
    return pa.array(p, mask=~valid)


def _asof_broadcast_multi(left: DataFrame, specs: Sequence[dict], on: str, left_ts: str) -> DataFrame:
    """The broadcast kernel for k normalized specs: ONE Arrow crossing
    matches every table (k chained Arrow-UDF stages would ship the
    probe's (entity, ts) columns to Python k times).  The probe side is
    never shuffled.  Output columns/types are identical to the union
    spine's: l_cols, then per table value_cols + ``{name}_matched_ts``."""
    spark = left.sparkSession
    tables = [_bcast_build(_bcast_side(sp, on).toArrow()) for sp in specs]
    bc = spark.sparkContext.broadcast(tables)
    tols = [sp["tol_us"] for sp in specs]
    all_vcols = [list(sp["value_cols"]) for sp in specs]
    fields = ", ".join(
        f"`{c}` {sp['schema'][c].dataType.simpleString()}"
        for sp in specs
        for c in sp["value_cols"]
    )
    fields += ", " + ", ".join(f"`__matched_us_{k}` bigint" for k in range(len(specs)))
    names = [c for vcols in all_vcols for c in vcols]
    names += [f"__matched_us_{k}" for k in range(len(specs))]

    @F.arrow_udf(fields)
    def _match(entity: pa.Array, ts_us: pa.Array) -> pa.Array:
        # a NULL index (no match) takes a NULL value and a NULL matched ts
        idx = [_bcast_match_idx(tb, entity, ts_us, tol) for tb, tol in zip(bc.value, tols)]
        arrays = [
            tb["cols"][c].take(i) for tb, i, vcols in zip(bc.value, idx, all_vcols) for c in vcols
        ]
        arrays += [tb["cols"]["__t"].take(i) for tb, i in zip(bc.value, idx)]
        return pa.StructArray.from_arrays(arrays, names)

    m = left.withColumn("__m", _match(F.col(on), _micros(left_ts)))
    sel: List[Column] = [F.col(c) for c in left.columns]
    for k, sp in enumerate(specs):
        sel += [F.col(f"__m.{c}").alias(c) for c in sp["value_cols"]]
        sel.append(
            F.timestamp_micros(F.col(f"__m.__matched_us_{k}"))
            .cast(sp["schema"][sp["ts"]].dataType)
            .alias(sp["matched"])
        )
    return m.select(*sel)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    valid_from: str,
    valid_to: str,
    value_cols: Optional[Sequence[str]] = None,
    how: str = "left",
) -> DataFrame:
    """Point-in-interval (validity-window / SCD-2) join: attach the
    right row whose [valid_from, valid_to) interval contains the probe
    timestamp, per entity.

    Plan shape: equi hash join on the entity key + range predicate —
    one shuffle on `on`; AQE handles residual skew.  For guaranteed
    at-most-one match keep right intervals non-overlapping (standard
    SCD-2 invariant).
    """
    value_cols = list(
        value_cols
        if value_cols is not None
        else [c for c in right.columns if c not in (on, valid_from, valid_to)]
    )
    r = right.select(
        F.col(on).alias("__r_on"),
        F.col(valid_from).alias("__vf"),
        F.col(valid_to).alias("__vt"),
        *[F.col(c) for c in value_cols],
    )
    cond = (
        (left[on] == r["__r_on"])
        & (left[left_ts] >= r["__vf"])
        & (left[left_ts] < r["__vt"])
    )
    out = left.join(r, cond, how)
    return out.select(*left.columns, *value_cols,
                      F.col("__vf").alias(f"matched_{valid_from}"))


# --------------------------------------------------------------- window ops
def _order_cols(ts):
    return [ts] if isinstance(ts, str) else list(ts)


_ROLLING_FNS = {
    "mean": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "stddev": F.stddev_samp,
}


def rolling_stats(
    df: DataFrame,
    entity: str,
    ts: str,
    value: str,
    window_sec: float,
    stats: Sequence[str] = ("mean", "min", "max", "count"),
    suffix: Optional[str] = None,
) -> DataFrame:
    """Trailing time-range window features: for each row, aggregate
    ``value`` over this entity's rows with ``ts`` in
    ``[row.ts - window_sec, row.ts]`` (both ends inclusive — rows at
    exactly the boundary or with equal timestamps are all included,
    independent of physical order, so results are deterministic under
    ties).

    One Catalyst range-frame window per call: a single entity-hash
    exchange + sort, all aggregates computed in the same frame pass —
    the classic "7-day rolling mean/min/max" feature at any scale.
    Leakage-free: the frame never looks past the current timestamp.
    """
    for s in stats:
        if s not in _ROLLING_FNS:
            raise ValueError(f"unknown stat {s!r}; choose from {sorted(_ROLLING_FNS)}")
    sfx = suffix if suffix is not None else f"_{int(window_sec)}s"
    # range frames need integral bounds: order by epoch micros (long)
    w = (
        Window.partitionBy(entity)
        .orderBy(_micros(ts))
        .rangeBetween(-int(window_sec * 1_000_000), 0)
    )
    out = df
    for s in stats:
        out = out.withColumn(f"{value}_roll_{s}{sfx}", _ROLLING_FNS[s](F.col(value)).over(w))
    return out


def lag_lead(
    df: DataFrame,
    entity: str,
    ts,
    col: str,
    lags: Sequence[int] = (1,),
    leads: Sequence[int] = (),
) -> DataFrame:
    """lag/lead features per entity ordered by ts (SURVEY.md §2.8).
    ``ts`` may be a list of columns for deterministic tiebreaks."""
    w = Window.partitionBy(entity).orderBy(*_order_cols(ts))
    for k in lags:
        df = df.withColumn(f"{col}_lag{k}", F.lag(col, k).over(w))
    for k in leads:
        df = df.withColumn(f"{col}_lead{k}", F.lead(col, k).over(w))
    return df


def fill_forward(df: DataFrame, entity: str, ts, cols: Sequence[str]) -> DataFrame:
    """Backfill nulls with the latest prior non-null value per entity."""
    w = (
        Window.partitionBy(entity)
        .orderBy(*_order_cols(ts))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumns({c: F.last(F.col(c), ignorenulls=True).over(w) for c in cols})


def sessionize(
    df: DataFrame,
    entity: str,
    ts,
    gap_sec: float,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time
    since the previous event of the same entity exceeds ``gap_sec``.
    Session ids are 0-based per entity (cumulative sum of boundaries).
    ``ts`` may be a list of columns (first must be the timestamp)."""
    order = _order_cols(ts)
    tcol = order[0]
    w = Window.partitionBy(entity).orderBy(*order)
    gap = _ts_sec(F.col(tcol)) - F.lag(_ts_sec(F.col(tcol))).over(w)
    boundary = F.when(gap.isNull() | (gap > F.lit(float(gap_sec))), 1).otherwise(0)
    run = (
        Window.partitionBy(entity)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(session_col, F.sum(boundary).over(run) - F.lit(1))
