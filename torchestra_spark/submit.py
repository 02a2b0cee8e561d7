"""spark-submit packaging + job entry point.

North rule: jobs run via ``spark-submit --py-files`` on a multi-executor
cluster.  ``build_pyfiles_zip`` packages the library; ``main`` is a
self-contained, checkpoint-resumable point-in-time feature job:

    python -m torchestra_spark.submit build   # -> dist/torchestra_spark.zip
    spark-submit --py-files dist/torchestra_spark.zip \
        --master <cluster> path/to/repo/torchestra_spark/submit.py run \
        --events <parquet> --features <parquet> --out <dir> [--resume]

The job: as-of join features onto events, lag + sessionize, a fitted
``value_z`` feature (StandardScore, NanToNum, Clamp) over the value
column, checkpointed bucketed write with lineage manifests (resumable
via --resume; re-running is idempotent).
"""

from __future__ import annotations

import argparse
import os
import sys
import zipfile

# allow running this file directly (spark-submit passes it as a script,
# with the library provided via --py-files; direct `python submit.py`
# runs get the repo root instead)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def build_pyfiles_zip(out_path: str = "dist/torchestra_spark.zip") -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "torchestra_spark")
    os.makedirs(os.path.dirname(os.path.join(root, out_path)), exist_ok=True)
    zpath = os.path.join(root, out_path)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    return zpath


def run_job(args: argparse.Namespace) -> None:
    from pyspark.sql import SparkSession

    from torchestra_spark import Clamp, Feature, NanToNum, Pipeline, StandardScore
    from torchestra_spark.checkpoint import CheckpointedWriter, input_fingerprint
    from torchestra_spark.operators.temporal import asof_join, lag_lead, sessionize

    spark = SparkSession.builder.appName("torchestra_spark_pit_job").getOrCreate()
    fp = input_fingerprint([args.events, args.features]) if args.fingerprint else ""
    writer = CheckpointedWriter(
        args.out, key_col=args.entity, n_buckets=args.buckets,
        wave_size=args.wave_size, fingerprint=fp,
    )
    if args.resume:
        status = writer.status()
        if status.is_complete:
            # before any fit: a complete output is not touched
            print("already complete; nothing to do")
            return
    else:
        # fresh run: never reuse prior bucket outputs (run() skips any
        # bucket with an existing manifest, which without --resume would
        # silently serve stale data when fingerprinting is off), and
        # never leave a bucket directory of another --buckets layout
        writer.clear()
    events = spark.read.parquet(args.events)
    feats = spark.read.parquet(args.features)

    pit = asof_join(
        events, feats, on=args.entity, left_ts=args.ts, right_ts=args.feature_ts,
        value_cols=None, salt_buckets=args.salt_buckets,
    )
    pit = lag_lead(pit, args.entity, [args.ts], args.value_col, lags=(1,))
    pit = sessionize(pit, args.entity, [args.ts], gap_sec=args.session_gap)
    pipe = Pipeline(
        {
            "value_z": Feature(args.value_col, [StandardScore(), NanToNum(), Clamp(-4.0, 4.0)]),
        }
    )
    out = pipe.fit_transform(pit)
    pipe.save_state(os.path.join(args.out, "_state.json"))

    status = writer.run(out, progress=True)
    print(f"complete={status.is_complete} buckets={len(status.completed)}")


def main() -> None:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("build")
    r = sub.add_parser("run")
    r.add_argument("--events", required=True)
    r.add_argument("--features", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--entity", default="user_id")
    r.add_argument("--ts", default="ts")
    r.add_argument("--feature-ts", dest="feature_ts", default="feature_ts")
    r.add_argument("--value-col", dest="value_col", default="value")
    r.add_argument("--session-gap", dest="session_gap", type=float, default=6 * 3600.0)
    r.add_argument("--salt-buckets", dest="salt_buckets", type=int, default=1)
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument(
        "--wave-size", dest="wave_size", type=int, default=None,
        help="write at most this many buckets per write job (default: all "
        "remaining buckets in one job)",
    )
    r.add_argument("--resume", action="store_true")
    r.add_argument("--no-fingerprint", dest="fingerprint", action="store_false")
    args = p.parse_args()
    if args.cmd == "build":
        print(build_pyfiles_zip())
    else:
        run_job(args)


if __name__ == "__main__":
    main()
