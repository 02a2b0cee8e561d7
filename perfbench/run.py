#!/usr/bin/env python3
"""Seeded point-in-time feature benchmark for torchestra_spark.

One workload, as the contract in BENCHMARK.json runs it:

    python3 perfbench/run.py --workload pit_build --seed 1 --seconds 10 --trace 0

prints a readable report, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run (every other iteration traced, so the tracing overhead is measured
in the same process).

Every workload in turn, each run's readable report plus ``failed_frac``:

    python3 perfbench/run.py [--seed 1] [--seconds 10] [--trace 1]

The run is one process at ``local[nproc - 1]`` with ``get_spark`` defaults,
except that scratch space (``spark.local.dir``, JVM and Python temp
files) lives in a directory of the checkout that is removed at exit.
See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOAD_NAMES = ["pit_build", "asof_skewed", "corpus_prep", "fit_transform"]

# (name, unit, better); BENCHMARK.json lists the same metrics, except
# those in UNGATED
END_TO_END = [
    ("rows_per_s", "1/s", "higher"),
    ("cpu_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("setup_s", "s", "lower"),
]
# printed and reported, not in the result line: peak RSS follows how far
# the JVM grows its heap, which depends on GC timing, and its spread
# across runs is wider than any bound BENCHMARK.json may set
UNGATED = {"peak_rss_mb"}
PER_LAYER = [
    ("session.get_spark_s", "s", "lower"),
    ("sources.fixture_s", "s", "lower"),
    ("featurestore.build_s", "s", "lower"),
    ("featurestore.build_jobs", "count", "lower"),
    ("featurestore.materialize_s", "s", "lower"),
    ("checkpoint.waves", "count", "lower"),
    ("checkpoint.bytes_written", "B", "lower"),
    ("checkpoint.rows_written", "count", "higher"),
    ("temporal.asof_call_s", "s", "lower"),
    ("temporal.asof_call_jobs", "count", "lower"),
    ("temporal.exec_s.broadcast", "s", "lower"),
    ("temporal.exec_s.salted", "s", "lower"),
    ("pipeline.fit_s", "s", "lower"),
    ("pipeline.fit_jobs", "count", "lower"),
    ("pipeline.transform_s", "s", "lower"),
    ("dedup.index_build_s", "s", "lower"),
    ("dedup.exec_s", "s", "lower"),
    ("sequences.pack_exec_s", "s", "lower"),
    ("shuffle.bytes_written", "B", "lower"),
    ("shuffle.records_written", "count", "lower"),
    ("shuffle.write_ms", "ms", "lower"),
    ("shuffle.fetch_wait_ms", "ms", "lower"),
    ("sort.ms", "ms", "lower"),
    ("spill.bytes", "B", "lower"),
    ("aqe.partitions", "count", "lower"),
    ("arrow.python_ms", "ms", "lower"),
    ("arrow.python_boot_ms", "ms", "lower"),
    ("arrow.bytes_to_python", "B", "lower"),
    ("arrow.bytes_from_python", "B", "lower"),
    ("broadcast.bytes", "B", "lower"),
    ("broadcast.build_ms", "ms", "lower"),
    ("sort.peak_mem_bytes", "B", "lower"),
    ("jvm.gc_ms", "ms", "lower"),
    ("spark.sql_executions", "count", "lower"),
    ("scan.rows", "count", "lower"),
    ("scan.bytes", "B", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _scratch(run_dir: str) -> dict:
    """Point every scratch write of Spark, the JVMs and Python into the
    run directory.  Must run before the JVM starts."""
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # Python workers import the library from the checkout, whatever the
    # working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    tempfile.tempdir = dirs["tmp"]
    return {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_children(timeout: float = 30.0) -> None:
    from harness import tree_pids

    me = os.getpid()
    deadline = time.time() + timeout
    while time.time() < deadline:
        if tree_pids(me) == [me]:
            return
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def run_workload(args, run_dir: str) -> dict:
    extra_conf = _scratch(run_dir)
    try:
        import duckdb
        from torchestra_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its dependencies: {e}", file=sys.stderr)
        sys.exit(2)
    import harness
    from workloads import WORKLOADS

    # one core is left to the JIT compiler, GC and Python worker threads
    # the task threads feed, so they do not queue behind the tasks
    master = f"local[{max(1, harness.nproc() - 1)}]"
    spark = None
    try:
        # set-up: session start, fixture preparation and the untimed
        # warm-up iterations; the first keeps its output for the check
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=master, extra_conf=extra_conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, run_dir)
        wl.prepare(args.seed)
        t2 = time.perf_counter()
        warmup_walls = []
        for i in range(wl.WARMUP):
            w0 = time.perf_counter()
            wl.iterate(harness.Tracer(), keep=i == 0)
            warmup_walls.append(time.perf_counter() - w0)
        session_s, fixture_s = t1 - t0, t2 - t1
        setup = time.perf_counter() - t0

        off = harness.Tracer()
        on = harness.Tracer(spark, enabled=True) if args.trace else None
        scraper = harness.SqlScraper(spark) if args.trace else None
        walls, traced_walls, cpus, samples = [], [], [], []
        attempted = failed = 0
        with harness.RssSampler() as rss:
            start = time.perf_counter()
            while attempted < wl.TIMED or time.perf_counter() - start < args.seconds:
                # traced first, so iteration-order warming cannot hide overhead
                traced = bool(args.trace) and attempted % 2 == 0
                gc0 = harness.jvm_gc_ms(spark) if traced else 0.0
                c0, w0 = harness.cpu_seconds(), time.perf_counter()
                attempted += 1
                try:
                    wl.iterate(on if traced else off)
                    ok = True
                except Exception:  # counted in `failed`; the run goes on
                    ok = False
                    failed += 1
                    print(f"perfbench: iteration {attempted} failed", file=sys.stderr)
                    traceback.print_exc()
                w1, c1 = time.perf_counter(), harness.cpu_seconds()
                if ok:
                    (traced_walls if traced else walls).append(w1 - w0)
                    cpus.append(c1 - c0)
                if traced and ok:
                    m = on.take()
                    m.update(scraper.collect())
                    m["jvm.gc_ms"] = harness.jvm_gc_ms(spark) - gc0
                    m["checkpoint.waves"] = m.pop("_write_executions", 0.0)
                    samples.append(m)
                elif scraper is not None:
                    # drop what an untraced or failed iteration left behind
                    scraper.collect()
                    on.take()

        # untimed, after the timed loop so its memory is not in peak_rss_mb
        t_check = time.perf_counter()
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'tmp')}'")
        problems = wl.check(con)
        props = wl.properties(con)
        con.close()
        host = harness.host_record(spark)
        check_s = time.perf_counter() - t_check
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            _stop_jvm()
            _wait_children()

    if not walls or (args.trace and not samples):
        print("perfbench: no timed iteration succeeded", file=sys.stderr)
        sys.exit(1)
    if problems:
        failed = attempted
    if args.trace:
        names = [n for n, _u, _b in PER_LAYER]
        values = harness.median_metrics(samples, names)
        values["session.get_spark_s"] = session_s
        values["sources.fixture_s"] = fixture_s
        values["trace.overhead_frac"] = statistics.median(traced_walls) / statistics.median(walls) - 1.0
        units = {n: u for n, u, _b in PER_LAYER}
    else:
        values = {
            "rows_per_s": wl.input_rows() / statistics.median(walls),
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": rss.peak / 2**20,
            "setup_s": setup,
        }
        units = {n: u for n, u, _b in END_TO_END}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "iterations": attempted,
        "failed_frac": failed / attempted,
        "warmup_s": warmup_walls,
        "iteration_s": walls,
        "iteration_cpu_s": cpus,
        "setup_s": setup,
        "session_s": session_s,
        "fixture_s": fixture_s,
        "check_s": check_s,
        "problems": problems,
        "input": props,
        "host": host,
    }
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{attempted} iterations, failed_frac {failed / attempted:.3f}")
    for p in problems:
        print(f"  CHECK FAILED: {p}")
    for name, value in props.items():
        print(f"  {name:32s} {value:>16.6g}")
    for name in units:
        print(f"  {name:32s} {values[name]:>16.6g} {units[name]}")
    print(json.dumps({"perfbench_report": report}))
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            n: {"value": float(values[n]), "unit": u} for n, u in units.items() if n not in UNGATED
        },
    }


def run_all(args) -> int:
    """Every workload in its own process, one report after another."""
    status = 0
    for name in WORKLOAD_NAMES:
        for trace in sorted({0, args.trace}):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{name}: run failed (exit {proc.returncode})")
                status = 1
                continue
            res = json.loads(lines[-1])
            # the run's readable report, without its JSON lines
            print("\n" + "\n".join(line for line in lines if not line.startswith("{")))
            print(f"  correct {res['correct']}")
            print(f"  {'failed_frac':32s} {res['failed'] / res['attempted']:>16.6g} ratio")
    return status


def main(argv=None) -> int:
    args = _args(argv)
    # on SIGTERM still stop Spark and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload is None:
        return run_all(args)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        result = run_workload(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
