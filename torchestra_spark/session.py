"""SparkSession factory with the engine's recommended configuration.

Tuned for correctness tests on local[*] but with the switches that
matter at cluster scale: AQE (runtime re-planning, skew-join splitting),
Arrow for every Python-UDF crossing, and partition sizing knobs that are
explicit rather than inherited defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_FALSY = ("0", "false", "no", "off")


def _apply_malloc_tuning() -> None:
    """Raise the glibc mmap/trim thresholds (and pin PyArrow to the
    system allocator) for the JVM gateway and its forked Python
    workers.  Defaults only — pre-existing values are respected and
    ``SPARK_GRAFT_MALLOC_TUNING`` set to 0/false/no/off (any case)
    disables entirely."""
    if os.environ.get("SPARK_GRAFT_MALLOC_TUNING", "1").strip().lower() in _FALSY:
        return
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1024**3))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1024**3))
    # route PyArrow buffers through the same tamed glibc heap rather
    # than the bundled pool's own madvise purging
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


def _local_dir(master: str) -> str | None:
    """Shuffle/spill scratch dir: ``SPARK_GRAFT_LOCAL_DIR`` if set, else
    RAM-backed ``/dev/shm`` for a ``local`` master when it is writable
    and has >= 8 GiB free, else None (Spark's disk-backed default).

    Local disk can be the tighter limit for shuffle files: a root fs
    measured at ~0.8 s of file create/sync latency PER tiny shuffle
    (250k-row groupBy 1.27 s on ext4 vs 0.47 s on tmpfs).  But tmpfs
    shuffle space competes with executor memory, and on a cluster
    master ``/dev/shm`` is the DRIVER host's, not the executors', so it
    is a local-mode choice only; on a cluster set
    ``SPARK_GRAFT_LOCAL_DIR`` (or ``spark.local.dir`` via
    ``extra_conf``) to the NVMe scratch array."""
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is not None or not master.startswith("local"):
        return local_dir
    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        return None
    try:
        st = os.statvfs("/dev/shm")
    except OSError:  # pragma: no cover - statvfs is best-effort
        return None
    # container /dev/shm defaults (64 MB) or a nearly-full tmpfs keep
    # the disk-backed Spark default
    return "/dev/shm" if st.f_bavail * st.f_frsize >= 8 * 1024**3 else None


def get_spark(
    app_name: str = "torchestra_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # default: one local task slot per core this process may run on
    # (its CPU affinity, which a container's cpuset narrows)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{len(os.sched_getaffinity(0))}]"
    )
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # Allocator churn at the Python boundary (guide §4): every numpy /
    # Arrow temp above glibc's default 128 KB mmap threshold pays an
    # mmap+munmap per buffer — page faults plus a cgroup memory
    # charge/uncharge on every batch, in every worker.  Under memcg
    # accounting that kernel path serializes across cores (profiled on
    # this sandbox: 32 threads at ~100 % SYSTEM time inside
    # charge_memcg during Arrow stages; probe suite steady-state
    # 2.5-2.8 s -> 1.8-2.1 s with the thresholds raised).  Raising the
    # thresholds makes workers reuse heap arenas instead; the cost is
    # freed blocks being retained up to each worker's peak — already
    # the budget spark.python.worker.memory plans for.  Set before the
    # JVM launches so the gateway and its forked Python workers
    # inherit; existing values are respected, and
    # SPARK_GRAFT_MALLOC_TUNING=0/false/no/off disables.
    _apply_malloc_tuning()
    local_dir = _local_dir(master)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # byte-bound Arrow batches (guide §4.2: lower for wide rows):
        # token-array rows batch at ~4-5k rows for better JVM->Python
        # pipelining (measured: 1M-doc sketch 1.50 -> 1.25 s), while
        # narrow rows keep hitting the 10k record cap unchanged
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
