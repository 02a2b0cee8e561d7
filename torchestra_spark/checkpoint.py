"""Per-partition checkpointed output with lineage + metrics — resumable
batch jobs (north rule: "resumable from per-partition checkpoints
carrying lineage and metrics").

Design (Spark-idiomatic, no custom commit protocol):

* The output is hash-bucketed on a key column into ``n_buckets``
  directory partitions (``__ckpt_bucket=<b>/``), with
  ``b = pmod(hash(key), n_buckets)``.
* By default all remaining buckets are written in **one** job with
  Spark's *dynamic partition overwrite*: the input plan runs once, and a
  retried/duplicated job overwrites exactly its own partitions, so
  writes are idempotent under speculative re-execution.  ``wave_size``
  is an opt-in bound: each write job then covers at most that many
  buckets (a filtered write per job, each re-running the input plan).
* After a job commits, one manifest JSON per bucket is written to
  ``_manifest/`` recording the layout (``n_buckets``, ``bucket_fn``),
  lineage (input fingerprint, app id) and metrics (rows, bytes, wall
  ms).  The manifest — not _SUCCESS — is the unit of completion.
* Resume = list the manifest, skip completed buckets, process the rest.
  A path whose manifests record a different layout is refused: its
  stale bucket directories would survive the overwrite and duplicate
  rows on load.

File count: ``hash`` is the Murmur3 (seed 42) function Spark's
``HashPartitioning`` uses, so when the input is already hash-partitioned
on the key alone into S partitions (an entity window or aggregate
leaves it so), bucket ``b`` draws rows only from the partitions ``p``
with ``p ≡ b (mod gcd(S, n_buckets))``, so each bucket is written as
``S / gcd(S, n_buckets)`` files; one file when ``n_buckets`` is a
multiple of S.  AQE coalescing keeps this, because it merges whole
reducer partitions.  No extra exchange is added for it: an input
partitioned otherwise is written as up to one file per task per bucket.

At 1000 executors: one write job = one normal distributed write; the
driver writes only the tiny manifest JSON files.

Two refreshers keep a derived table in step with a hive-partitioned
input (``<col>=<value>/`` directories).  ``IncrementalMaterializer``
rewrites new or changed partitions in place; ``SnapshotStore`` writes
them as a new version and commits a snapshot.  Both diff each input
partition's file fingerprint against the one they recorded.  Partition
values must be alphanumeric or ``-._``: Spark escapes other characters in
directory names (``10:00`` becomes ``10%3A00``), so the name would no
longer equal the column value; such an input is refused before any job
runs.  A partition deleted from the input is dropped from an
``IncrementalMaterializer`` view (its output directory and manifest are
deleted) and unpinned from the next ``SnapshotStore`` snapshot (its
version directories stay for time travel until ``expire``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Sequence, Tuple
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from torchestra_spark.state import write_json_atomic

BUCKET_COL = "__ckpt_bucket"
# recorded in each manifest; a resume must use the same function
BUCKET_FN = "murmur3"


def input_fingerprint(paths: Sequence[str]) -> str:
    """Cheap lineage fingerprint of input files: name+size+mtime hash."""
    import hashlib

    h = hashlib.sha256()
    for p in sorted(paths):
        if os.path.isdir(p):
            files = sorted(
                os.path.join(dp, f) for dp, _, fs in os.walk(p) for f in fs if not f.startswith("_")
            )
        else:
            files = [p]
        for f in files:
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{int(st.st_mtime)}".encode())
    return h.hexdigest()[:16]


def _utc_now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


def _records(directory: str, prefix: str) -> List[dict]:
    """The ``<prefix>*.json`` records in ``directory``, by file name."""
    if not os.path.isdir(directory):
        return []
    out = []
    for f in sorted(os.listdir(directory)):
        if f.startswith(prefix) and f.endswith(".json"):
            with open(os.path.join(directory, f)) as fh:
                out.append(json.load(fh))
    return out


def _partition_dirs(path: str, col: str) -> Dict[str, str]:
    """{value: directory} of the ``<col>=<value>`` directories under
    ``path``, by name.  A value must be alphanumeric or ``-._``: Spark
    escapes other characters in the directory name, so the name would
    not equal the column value a filter or manifest compares against.
    NULL (Spark's ``__HIVE_DEFAULT_PARTITION__``) is refused too: an
    ``isin`` over the names matches no NULL row."""
    prefix = f"{col}="
    out = {}
    if os.path.isdir(path):
        for d in sorted(os.listdir(path)):
            full = os.path.join(path, d)
            if not (d.startswith(prefix) and os.path.isdir(full)):
                continue
            v = d[len(prefix):]
            if v == "__HIVE_DEFAULT_PARTITION__":
                raise ValueError(
                    f"partition column {col!r} holds NULL, which no value "
                    "filter matches; fill it before partitioning"
                )
            if not all(c.isalnum() or c in "-._" for c in v):
                raise ValueError(
                    f"partition value {unquote(v)!r} needs path escaping; use "
                    "alphanumeric/-/._ values (e.g. ds=2026-08-16)"
                )
            out[v] = full
    return out


def _diff(current: Dict[str, str], recorded: Dict[str, str]) -> Tuple[List[str], List[str]]:
    """(changed, removed): the values of ``current`` that are new or whose
    fingerprint differs from ``recorded``, and the recorded values that
    ``current`` no longer has."""
    changed = [v for v, fp in current.items() if recorded.get(v) != fp]
    return changed, [v for v in recorded if v not in current]


@contextmanager
def _dynamic_overwrite(spark: SparkSession) -> Iterator[None]:
    """Dynamic partition overwrite for the writes inside; the session's
    previous mode is restored on exit, also on error."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@dataclass
class CheckpointStatus:
    n_buckets: int
    completed: List[int]

    @property
    def is_complete(self) -> bool:
        return len(self.completed) == self.n_buckets

    @property
    def remaining(self) -> List[int]:
        done = set(self.completed)
        return [b for b in range(self.n_buckets) if b not in done]


class CheckpointedWriter:
    """Resumable bucketed parquet writer with a JSON manifest."""

    def __init__(
        self,
        path: str,
        key_col: str,
        n_buckets: int = 64,
        wave_size: Optional[int] = None,
        fingerprint: Optional[str] = None,
    ):
        if wave_size is not None and int(wave_size) < 1:
            raise ValueError(f"wave_size must be a positive bucket count or None, got {wave_size}")
        self.path = path
        self.key_col = key_col
        self.n_buckets = int(n_buckets)
        self.wave_size = None if wave_size is None else int(wave_size)
        self.fingerprint = fingerprint or ""
        self.manifest_dir = os.path.join(path, "_manifest")

    # ------------------------------------------------------------- manifest
    def status(self) -> CheckpointStatus:
        completed = [
            int(m["bucket"])
            for m in self.metrics()
            # a manifest from different input is stale
            if not self.fingerprint or m.get("fingerprint") in ("", self.fingerprint)
        ]
        return CheckpointStatus(self.n_buckets, sorted(completed))

    def _check_layout(self) -> None:
        """Refuse to write over manifests of another bucket layout (or
        written before manifests recorded one): dynamic overwrite would
        replace only this layout's bucket directories and leave the old
        ones, so ``load()`` would return duplicate rows."""
        for m in self.metrics():
            found = (m.get("n_buckets"), m.get("bucket_fn"))
            if found != (self.n_buckets, BUCKET_FN):
                raise ValueError(
                    f"{self.path} holds bucket-{m['bucket']} written with "
                    f"n_buckets={found[0]}, bucket_fn={found[1]}; this writer uses "
                    f"n_buckets={self.n_buckets}, bucket_fn={BUCKET_FN}. Write to a "
                    f"new path, or delete {self.path} to rebuild it."
                )

    def clear(self) -> None:
        """Delete every bucket directory and manifest under the path so
        the next run() rewrites every bucket — the non-resume entry
        point (a fresh run must not silently reuse stale bucket outputs,
        especially with fingerprinting disabled).  The data goes with
        the manifests: bucket directories left without a manifest would
        escape the layout guard, and a run with fewer buckets would
        leave them beside its own, duplicating rows on load."""
        for d in _partition_dirs(self.path, BUCKET_COL).values():
            shutil.rmtree(d)
        shutil.rmtree(self.manifest_dir, ignore_errors=True)

    def _write_manifest(self, bucket: int, rows: int, nbytes: int, wall_ms: float, app_id: str) -> None:
        write_json_atomic(os.path.join(self.manifest_dir, f"bucket-{bucket}.json"), {
            "bucket": bucket,
            "n_buckets": self.n_buckets,
            "bucket_fn": BUCKET_FN,
            "rows": rows,
            "bytes": nbytes,
            "wall_ms": round(wall_ms, 1),
            "fingerprint": self.fingerprint,
            "app_id": app_id,
            "committed_at": _utc_now(),
        })

    def _bucket_stats(self, bucket: int) -> tuple:
        """Rows/bytes of a written bucket from parquet footers (no scan)."""
        import pyarrow.parquet as pq

        bdir = os.path.join(self.path, f"{BUCKET_COL}={bucket}")
        rows = 0
        nbytes = 0
        if os.path.isdir(bdir):
            for f in os.listdir(bdir):
                if f.endswith(".parquet"):
                    fp = os.path.join(bdir, f)
                    rows += pq.read_metadata(fp).num_rows
                    nbytes += os.stat(fp).st_size
        return rows, nbytes

    # ----------------------------------------------------------------- write
    def run(self, df: DataFrame, progress: bool = False) -> CheckpointStatus:
        """Write all remaining buckets (one job, or jobs of ``wave_size``
        buckets); safe to re-run any time."""
        self._check_layout()
        spark = df.sparkSession
        sc = spark.sparkContext
        status = self.status()
        remaining = status.remaining
        if not remaining:
            return status
        bucketed = df.withColumn(
            BUCKET_COL, F.pmod(F.hash(F.col(self.key_col)), F.lit(self.n_buckets))
        )
        step = self.wave_size or len(remaining)
        prev_desc = sc.getLocalProperty("spark.job.description")
        app_id = sc.applicationId
        try:
            with _dynamic_overwrite(spark):
                for i in range(0, len(remaining), step):
                    wave = remaining[i : i + step]
                    sc.setJobDescription(
                        f"checkpoint: write {len(wave)} of {self.n_buckets} buckets to {self.path}"
                    )
                    # a write of every bucket needs no filter
                    out = bucketed if len(wave) == self.n_buckets else bucketed.filter(
                        F.col(BUCKET_COL).isin(wave)
                    )
                    t0 = time.time()
                    out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(self.path)
                    wall = (time.time() - t0) * 1000.0
                    for b in wave:
                        rows, nbytes = self._bucket_stats(b)
                        self._write_manifest(b, rows, nbytes, wall / len(wave), app_id)
                    if progress:
                        print(f"checkpoint committed: buckets={wave}")
        finally:
            sc.setJobDescription(prev_desc)
        return self.status()

    # ------------------------------------------------------------------ read
    def load(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).drop(BUCKET_COL)

    def metrics(self) -> List[dict]:
        return _records(self.manifest_dir, "bucket-")


class _PartitionRefresh:
    """What both refreshers share: the ``<col>=<value>`` partitions of the
    input with their fingerprints, and the recompute of some of them."""

    def __init__(self, input_path: str, output_path: str, partition_col: str):
        self.input_path = input_path
        self.output_path = output_path
        self.partition_col = partition_col

    def _input_fingerprints(self) -> Dict[str, str]:
        """{partition value -> current input fingerprint}."""
        dirs = _partition_dirs(self.input_path, self.partition_col)
        return {v: input_fingerprint([d]) for v, d in dirs.items()}

    def _recompute(self, spark: SparkSession, values: List[str], transform) -> DataFrame:
        src = spark.read.parquet(self.input_path).filter(F.col(self.partition_col).isin(values))
        return transform(src) if transform is not None else src


class IncrementalMaterializer(_PartitionRefresh):
    """Manifest-driven incremental refresh of a derived table over a
    hive-partitioned input — the Iceberg-snapshot read pattern on plain
    parquet: the manifest records each input partition's file
    fingerprint, and ``refresh()`` recomputes ONLY partitions that are
    new or whose fingerprint changed.

    The feature-store daily loop this completes::

        delta = spark.read.parquet(f"{input}/ds=2026-08-16")
        pipe.fit_update(delta)                       # merge delta stats
        mat.refresh(spark, pipe.transform)           # rewrites ONLY new
                                                     # /changed partitions

    Untouched partitions keep their files (dynamic partition overwrite
    rewrites exactly the refreshed directories), so a daily append to a
    year-long table does 1/365th of the write — and, because the filter
    on the partition column prunes at the scan, 1/365th of the read.
    Note the standard incremental-view caveat: partitions NOT refreshed
    keep outputs computed with the params in force when they were
    written — pair with the refit-safe ``fit_update`` (frozen upstream
    params) for an exactly-consistent table, or ``clear()`` to force a
    full rebuild after a param-shifting refit.
    """

    def __init__(self, input_path: str, output_path: str, partition_col: str):
        super().__init__(input_path, output_path, partition_col)
        self.manifest_dir = os.path.join(output_path, "_manifest")

    # ---------------------------------------------------------------- state
    def _manifest(self) -> Dict[str, str]:
        """{partition value -> fingerprint it was materialized from}."""
        return {m["value"]: m["fingerprint"] for m in _records(self.manifest_dir, "part-")}

    def _part_file(self, value: str) -> str:
        return os.path.join(self.manifest_dir, f"part-{value}.json")

    def changed_partitions(self) -> List[str]:
        """Input partitions that are new or whose files changed since
        they were last materialized."""
        return _diff(self._input_fingerprints(), self._manifest())[0]

    def clear(self) -> None:
        """Drop the manifest: the next refresh() rebuilds everything."""
        if os.path.isdir(self.manifest_dir):
            for f in os.listdir(self.manifest_dir):
                if f.startswith("part-") and f.endswith(".json"):
                    os.remove(os.path.join(self.manifest_dir, f))

    # -------------------------------------------------------------- refresh
    def refresh(self, spark: SparkSession, transform=None) -> List[str]:
        """Recompute only new/changed partitions through ``transform``
        (DataFrame -> DataFrame, must keep the partition column); write
        with dynamic partition overwrite; update the manifest.  A
        partition deleted from the input since it was materialized loses
        its output directory and its manifest.  Returns the partition
        values refreshed ([] when none was new or changed)."""
        fps = self._input_fingerprints()
        changed, removed = _diff(fps, self._manifest())
        if changed:
            out = self._recompute(spark, changed, transform)
            with _dynamic_overwrite(spark):
                out.write.mode("overwrite").partitionBy(self.partition_col).parquet(
                    self.output_path
                )
            committed_at = _utc_now()
            for v in changed:
                write_json_atomic(
                    self._part_file(v),
                    {"value": v, "fingerprint": fps[v], "committed_at": committed_at},
                )
        for v in removed:
            shutil.rmtree(os.path.join(self.output_path, f"{self.partition_col}={v}"), ignore_errors=True)
            os.remove(self._part_file(v))
        return changed

    def load(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.output_path)


class SnapshotStore(_PartitionRefresh):
    """Iceberg-style snapshot log + time travel on plain parquet.

    ``IncrementalMaterializer`` refreshes in place (copy-on-write
    overwrite), so history is gone after a refresh.  SnapshotStore
    keeps it: every refresh writes changed partitions into a NEW
    version directory ``<part>=<v>/ver=<n>/`` (append-only, nothing is
    overwritten) and commits a snapshot JSON pinning, for every
    partition, the version that snapshot sees::

        _snapshots/v000007.json = {"id": 7, "parent": 6,
                                   "pins": {"2026-08-16": 3, ...}}

    * ``refresh(spark, transform)``   — recompute only new/changed input
      partitions (same fingerprint diff as IncrementalMaterializer),
      write them as ver=N, commit snapshot N.
    * ``load(spark, snapshot_id=None)`` — read the table AS OF any
      retained snapshot: a partition-column predicate
      ``(part=a AND ver=x) OR ...`` built from the pins, so Spark's
      partition pruning selects exactly the pinned directories at plan
      time — no data files outside the snapshot are touched.
    * ``expire(keep_last=k)``         — delete version directories no
      retained snapshot references (Iceberg's expire_snapshots).

    The snapshot commit is a single atomic rename of one small
    JSON — the same O(1)-metadata commit Iceberg uses; data writes are
    append-only so a failed refresh never corrupts a committed
    snapshot.  At cluster scale the JSON lives on the shared store and
    the pin predicate is built driver-side from KBs of metadata.

    Assumptions (document them because the failure mode is silent):
    ONE writer at a time — refresh/expire are not mutually safe across
    processes (expire does skip ver dirs newer than the last committed
    snapshot, so maintenance beside one in-flight refresh is fine, but
    two concurrent refreshes can still interleave version numbers); and
    a POSIX-semantics filesystem (atomic rename, directory
    listing) — NFS/local/POSIX-mounted stores, not bare object stores
    (S3 needs an Iceberg/Delta-style commit service instead).
    """

    def __init__(self, input_path: str, output_path: str, partition_col: str):
        super().__init__(input_path, output_path, partition_col)
        self.snap_dir = os.path.join(output_path, "_snapshots")

    # ---------------------------------------------------------------- state
    def snapshots(self) -> List[dict]:
        return _records(self.snap_dir, "v")

    def current(self) -> Optional[dict]:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def _version_dirs(self) -> Iterator[Tuple[str, int, str]]:
        """(partition value, version, directory) of every
        ``<part>=<value>/ver=<n>`` directory of the table."""
        for v, part_dir in _partition_dirs(self.output_path, self.partition_col).items():
            for ver, vd in _partition_dirs(part_dir, "ver").items():
                yield v, int(ver), vd

    # -------------------------------------------------------------- refresh
    def refresh(self, spark: SparkSession, transform=None) -> List[str]:
        """Write new/changed input partitions as a new version and
        commit the next snapshot.  Input partitions DELETED since the
        last snapshot are unpinned from the new snapshot (their data
        files stay, so older snapshots still time-travel to them).
        Returns refreshed partition values ([] = input unchanged; no
        snapshot is committed)."""
        cur = self.current()
        fps = self._input_fingerprints()
        pinned_fps = cur["fingerprints"] if cur else {}
        changed, removed = _diff(fps, pinned_fps)
        if not changed and not removed:
            return []
        snap_id = (cur["id"] + 1) if cur else 0
        pins = {v: p for v, p in (cur["pins"] if cur else {}).items() if v in fps}
        fingerprints = {v: f for v, f in pinned_fps.items() if v in fps}
        if changed:
            # a refresh that crashed between data write and snapshot
            # commit left ver=<snap_id> directories no committed snapshot
            # pins; a retry would append a SECOND copy into them
            for _, ver, vd in self._version_dirs():
                if ver == snap_id:
                    shutil.rmtree(vd)
            out = self._recompute(spark, changed, transform).withColumn("ver", F.lit(snap_id))
            # append-only: ver=<snap_id> directories are new, nothing of
            # any committed snapshot is touched
            out.write.mode("append").partitionBy(self.partition_col, "ver").parquet(
                self.output_path
            )
            for v in changed:
                pins[v] = snap_id
                fingerprints[v] = fps[v]
        write_json_atomic(os.path.join(self.snap_dir, f"v{snap_id:06d}.json"), {
            "id": snap_id,
            "parent": cur["id"] if cur else None,
            "committed_at": _utc_now(),
            "refreshed": sorted(changed),
            "removed": sorted(removed),
            "pins": pins,
            "fingerprints": fingerprints,
        })
        return sorted(changed)

    # ----------------------------------------------------------------- read
    def load(self, spark: SparkSession, snapshot_id: Optional[int] = None) -> DataFrame:
        """The table as of ``snapshot_id`` (default: current).  The pin
        predicate is on partition columns only, so planning prunes to
        exactly the pinned directories."""
        snaps = {s["id"]: s for s in self.snapshots()}
        if not snaps:
            raise ValueError("no committed snapshots")
        snap = snaps[max(snaps)] if snapshot_id is None else snaps.get(snapshot_id)
        if snap is None:
            raise ValueError(
                f"snapshot {snapshot_id} not found (retained: {sorted(snaps)})"
            )
        df = spark.read.parquet(self.output_path)
        pred = None
        for v, ver in snap["pins"].items():
            clause = (F.col(self.partition_col) == v) & (F.col("ver") == ver)
            pred = clause if pred is None else (pred | clause)
        if pred is None:
            return df.limit(0)
        return df.filter(pred).drop("ver")

    # --------------------------------------------------------------- expire
    def expire(self, keep_last: int = 1) -> List[str]:
        """Drop all but the last ``keep_last`` snapshots and delete
        version directories no retained snapshot pins (data files of
        retained snapshots are never touched).

        Version directories NEWER than the latest committed snapshot
        are left alone: they belong to an in-flight refresh that has
        written ver=N but not yet committed its snapshot JSON — the one
        concurrent shape (maintenance alongside a refresh) the
        single-writer model still allows."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return []
        drop, keep = snaps[:-keep_last], snaps[-keep_last:]
        live = {(v, ver) for s in keep for v, ver in s["pins"].items()}
        latest = snaps[-1]["id"]
        removed = []
        for v, ver, vd in self._version_dirs():
            if ver <= latest and (v, ver) not in live:
                shutil.rmtree(vd)
                removed.append(os.path.relpath(vd, self.output_path))
        for s in drop:
            p = os.path.join(self.snap_dir, f"v{s['id']:06d}.json")
            if os.path.exists(p):
                os.remove(p)
        return sorted(removed)
