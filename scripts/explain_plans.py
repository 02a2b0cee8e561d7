"""Write the executed physical plans of bench queries to
plans/<tag>/<query>.txt, normalized so two checkouts' plans diff clean.

Each query closure from ``bench.bench_queries`` runs as the bench runs
it.  A named query the bench lacks is looked up in
``__spark_entry__.queries()`` and run on ``SPARK_GRAFT_SF_DIR`` into a
noop sink, so the plans of every declared query can be diffed.  Every
SQL execution a query starts (pinning sub-jobs, count gates, the
final noop write) is written with the text Spark's SQL status store
recorded for it, sorted by that text, so two checkouts that start the
same executions in another order still diff clean.
Normalization removes what differs between runs and checkouts of the
same plan: the checkout's path, expression ids (``#123`` -> ``#``),
RDD and plan ids (``MapPartitionsRDD[45]`` -> ``MapPartitionsRDD[]``,
``plan_id=7`` -> ``plan_id=``) and the names of Python functions
(``run(__id#1, __t#2)#3`` -> ``<py>(__id#, __t#)#``).

Usage:
    python scripts/explain_plans.py <tag> [query,query,...]
    diff -r plans/<tag_a> plans/<tag_b>

Env: the bench's own knobs (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_ROWS) size the inputs; plans do not depend on size
beyond AQE's runtime statistics.
"""

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__  # noqa: E402
import bench  # noqa: E402
from torchestra_spark.session import get_spark  # noqa: E402

_EXPR_ID = re.compile(r"#\d+")
_RUN_IDS = re.compile(r"(RDD\[|plan_id=)\d+")
_CALL = re.compile(r"\b\w+\(")


def _strip_python_names(text: str) -> str:
    """Replace ``name`` in every call ``name(...)#<id>`` of a node's
    ``Arguments:`` line: Catalyst prints a Python UDF or a
    mapInArrow/mapInPandas function that way there (aggregate results
    such as ``count(1)#5L`` are printed on other lines)."""
    if not text.startswith("Arguments: "):
        return text
    out, pos = [], 0
    for m in _CALL.finditer(text):
        if m.start() < pos:
            continue
        depth, i = 1, m.end()
        while i < len(text) and depth:
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        if text[i : i + 1] == "#" and text[i + 1 : i + 2].isdigit():
            out.append(text[pos : m.start()] + "<py>(")
            pos = m.end()
    return "".join(out) + text[pos:]


def normalize(plan: str) -> str:
    lines = (_strip_python_names(line) for line in plan.replace(ROOT, "<repo>").splitlines())
    return _RUN_IDS.sub(r"\1", _EXPR_ID.sub("#", "\n".join(lines)))


def _executions(store) -> dict:
    ex = store.executionsList()
    return {
        ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
        for i in range(ex.size())
    }


def _queries(spark, only) -> dict:
    """The bench's query closures, plus a noop-sink closure for each name
    in ``only`` that only ``__spark_entry__.queries()`` declares."""
    queries = bench.bench_queries(spark)
    declared = __spark_entry__.queries()
    for name in sorted((only or set()) - set(queries)):
        if name not in declared:
            raise SystemExit(f"unknown query {name!r}")
        queries[name] = lambda q=declared[name]: bench._noop(q(spark, bench.SF_DIR))
    return queries


def main(argv) -> None:
    if not argv:
        raise SystemExit(__doc__)
    tag = argv[0]
    only = set(argv[1].split(",")) if len(argv) > 1 else None
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        "explain_plans", master=f"local[{bench.CPUS}]", shuffle_partitions=bench.CPUS * 4
    )
    spark.sparkContext.setLogLevel("ERROR")
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    try:
        for name, fn in _queries(spark, only).items():
            if only and name not in only:
                continue
            bus.waitUntilEmpty()
            seen = set(_executions(store))
            fn()
            bus.waitUntilEmpty()
            plans = sorted(normalize(p) for e, p in _executions(store).items() if e not in seen)
            path = os.path.join(out_dir, f"{name}.txt")
            with open(path, "w") as fh:
                for plan in plans:
                    fh.write(f"-- execution\n{plan}\n")
            print(f"wrote {path} ({len(plans)} executions)")
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
