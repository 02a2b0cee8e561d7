"""Measurement plumbing for the benchmark: host/config records, cgroup
CPU, process-tree RSS, and the per-layer tracer.

The tracer records spans around public calls made by the workloads and
reads Spark-engine numbers from the SQL status store (the same store the
UI renders, which stays populated with ``spark.ui.enabled=false``).
Nothing here reaches into the library; spans sit at the call sites in
this package.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

PAGE = os.sysconf("SC_PAGE_SIZE")
# cgroup v1 accounting files of the container
CPUACCT_USAGE = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
MEM_LIMIT = "/sys/fs/cgroup/memory/memory.limit_in_bytes"


# ---------------------------------------------------------------- host facts
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_record(spark) -> dict:
    """Effective Spark conf plus host and library versions, so a later
    defaults change shows up as a config difference."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    keys = [
        "spark.master",
        "spark.driver.memory",
        "spark.local.dir",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.execution.arrow.maxBytesPerBatch",
        "spark.sql.files.maxPartitionBytes",
    ]
    return {
        "spark_conf": {k: conf.get(k, None) for k in keys},
        "nproc": nproc(),
        "ram_mb": _meminfo_mb("MemTotal"),
        "cgroup_mem_limit_mb": _cgroup_mem_limit_mb(),
        "versions": {
            "spark": pyspark.__version__,
            "pandas": pandas.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
        },
    }


def _meminfo_mb(key: str) -> Optional[int]:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def _cgroup_mem_limit_mb() -> Optional[int]:
    try:
        with open(MEM_LIMIT) as fh:
            raw = int(fh.read())
    except OSError:
        return None
    return raw // (1024 * 1024) if raw < 1 << 60 else None


# ------------------------------------------------------------ process tree
def _proc_table() -> Dict[int, tuple]:
    """pid -> (ppid, rss pages, vsize) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command field may hold spaces; fields resume after ')'
        f = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = (int(f[1]), int(f[21]), int(f[20]))
    return out


def _tree(table: Dict[int, tuple], root: int) -> List[int]:
    """``root`` and every descendant of it in ``table``."""
    kids = defaultdict(list)
    for pid, row in table.items():
        kids[row[0]].append(pid)
    todo, seen = [root], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(kids.get(p, ()))
    return seen


def tree_pids(root: int) -> List[int]:
    return _tree(_proc_table(), root)


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of the tree.  A child caught between vfork and exec
    (the JVM starting a Python worker) shares its parent's memory and
    reports the same size and RSS; it is not counted twice."""
    table = _proc_table()
    pages = 0
    for p in _tree(table, root):
        row = table.get(p)
        parent = table.get(row[0]) if row else None
        if row and not (parent and p != root and parent[1:] == row[1:]):
            pages += row[1]
    return pages * PAGE


class RssSampler:
    """Background sampler of the summed RSS of this process tree (the
    driver, the Spark JVM and its Python workers).  cgroup memory would
    also count shuffle files kept in tmpfs, so it is not used."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def cpu_seconds() -> float:
    """Container CPU-seconds (JVM + Python workers + driver) from the
    cgroup v1 accounting file."""
    with open(CPUACCT_USAGE) as fh:
        return int(fh.read()) / 1e9


# ------------------------------------------------------------ SQL metrics
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> Optional[float]:
    """A formatted SQL metric value as a number: bytes for sizes,
    milliseconds for timings, the plain value for counts."""
    if "\n" in text:  # "total (min, med, max ...)\n<total> (<min>, ...)"
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return None
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME_MS:
        return v * _TIME_MS[unit]
    return v if not unit else None


# (node-name prefix or None for any node, metric name) -> layer metric;
# summed over every node and execution of an iteration
_SUM_RULES = [
    (None, "shuffle bytes written", "shuffle.bytes_written"),
    (None, "shuffle records written", "shuffle.records_written"),
    (None, "shuffle write time", "shuffle.write_ms"),
    (None, "fetch wait time", "shuffle.fetch_wait_ms"),
    ("Sort", "sort time", "sort.ms"),
    (None, "spill size", "spill.bytes"),
    ("AQEShuffleRead", "number of partitions", "aqe.partitions"),
    (None, "time to run Python workers", "arrow.python_ms"),
    (None, "time to start Python workers", "arrow.python_boot_ms"),
    (None, "data sent to Python workers", "arrow.bytes_to_python"),
    (None, "data returned from Python workers", "arrow.bytes_from_python"),
    ("BroadcastExchange", "data size", "broadcast.bytes"),
    ("BroadcastExchange", "time to build", "broadcast.build_ms"),
    ("Scan", "number of output rows", "scan.rows"),
    ("Scan", "size of files read", "scan.bytes"),
]
# maximum over nodes instead of a sum
_MAX_RULES = [("Sort", "peak memory", "sort.peak_mem_bytes")]


class SqlScraper:
    """Reads per-node metrics of SQL executions that finished since the
    last call, from the session's SQL status store."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._seen = self._max_id()

    def _max_id(self) -> int:
        ex = self._store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def collect(self) -> dict:
        """Totals over executions newer than the previous call, plus the
        number of file-write executions (``_write_executions``)."""
        self._bus.waitUntilEmpty()
        totals: Dict[str, float] = defaultdict(float)
        writes = 0
        ex = self._store.executionsList()
        newest = self._seen
        n_exec = 0
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= self._seen:
                continue
            newest = max(newest, eid)
            n_exec += 1
            values = {}
            for kv in self._store.executionMetrics(eid).mkString("\x01").split("\x01"):
                if " -> " in kv:
                    k, v = kv.split(" -> ", 1)
                    values[k] = v
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                writes += "InsertIntoHadoopFsRelation" in name
                for spec in node.metrics().mkString("\x01").split("\x01"):
                    # SQLPlanMetric(<name>,<accumulatorId>,<type>)
                    parts = spec[len("SQLPlanMetric(") : -1].rsplit(",", 2)
                    if len(parts) != 3 or parts[1] not in values:
                        continue
                    mname, acc = parts[0], parts[1]
                    for prefix, metric, key in _SUM_RULES:
                        if metric == mname and (prefix is None or name.startswith(prefix)):
                            v = parse_metric(values[acc])
                            if v is not None:
                                totals[key] += v
                    for prefix, metric, key in _MAX_RULES:
                        if metric == mname and name.startswith(prefix):
                            v = parse_metric(values[acc])
                            if v is not None:
                                totals[key] = max(totals[key], v)
        self._seen = newest
        totals["spark.sql_executions"] = float(n_exec)
        totals["_write_executions"] = float(writes)
        return dict(totals)


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


# ------------------------------------------------------------------ tracer
class Tracer:
    """Spans around public calls, collected per iteration.

    ``span(key)`` adds the wall seconds of the block to metric ``key``;
    with ``jobs=<key>`` it also tags the Spark jobs the block starts on
    this thread with a job group and adds their number to that metric.
    Spans nest: a job counts for its own span and every enclosing one.
    ``add`` records a count.  When disabled every call is a no-op, so
    workload code calls the tracer unconditionally.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.cur: Dict[str, float] = defaultdict(float)
        self._groups: List[tuple] = []  # (job group, jobs metric) of open spans
        self._n = 0
        if enabled:
            self._spy_broadcasts(spark.sparkContext)

    def _spy_broadcasts(self, sc) -> None:
        """Python-side broadcasts (the as-of broadcast kernel's table)
        never show up as a BroadcastExchange: time each
        ``SparkContext.broadcast`` call and size its serialized file."""
        create = sc.broadcast

        def broadcast(value):
            t0 = time.perf_counter()
            bc = create(value)
            self.cur["broadcast.build_ms"] += (time.perf_counter() - t0) * 1e3
            path = getattr(bc, "_path", None)
            if path and os.path.exists(path):
                self.cur["broadcast.bytes"] += os.path.getsize(path)
            return bc

        sc.broadcast = broadcast

    def _set_group(self, group: Optional[str]) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, key: str, jobs: Optional[str] = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        if jobs:
            self._n += 1
            self._groups.append((f"perfbench-{self._n}", jobs))
            self._set_group(self._groups[-1][0])
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cur[key] += time.perf_counter() - t0
            if jobs:
                group, _ = self._groups.pop()
                n = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
                for _g, metric in self._groups + [(group, jobs)]:
                    self.cur[metric] += n
                self._set_group(self._groups[-1][0] if self._groups else None)

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.cur[key] += value

    def take(self) -> Dict[str, float]:
        out, self.cur = dict(self.cur), defaultdict(float)
        return out


def median_metrics(samples: List[Dict[str, float]], names: List[str]) -> Dict[str, float]:
    """Per-metric median over iterations; a metric an iteration never
    recorded counts as 0 in that iteration."""
    return {n: float(statistics.median([s.get(n, 0.0) for s in samples])) for n in names}
