"""tokstripe benchmark entry point.

    python3 tokbench/run.py --workload ingest_scan --seed 42 --seconds 30 --trace 0

Run from the root of a checkout. Builds nothing: the engine is imported from
the checkout's source. Everything the run writes goes under
`$CARGO_TARGET_DIR/tokbench` (default `.bench_build/tokbench`). The last line
of standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer with --trace 1);
`# `-prefixed lines before it are the run summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir() -> str:
    return os.path.abspath(
        os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "tokbench")
    )


def isolate(build: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch inside the build dir."""
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(build, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the run ends every round in a bit-equality verify, which catches any
    # shuffle corruption end to end (as bench.py does)
    os.environ.setdefault("ORC_SPARK_SHUFFLE_CHECKSUM", "false")
    os.environ["ORC_SPARK_EXTRA_CONF"] = (
        "spark.ui.enabled=false;spark.ui.showConsoleProgress=false"
    )


def start_spark():
    from orc_spark import datasource
    from orc_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(cpus=cpus, app_name="tokbench")
    spark.sparkContext.setLogLevel("ERROR")
    datasource.register(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any wait failure: make sure it ends
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import orc_spark  # noqa: F401 - the engine under test
    except ImportError as e:
        print(f"tokbench: engine source not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from tokbench import bench

    if args.workload not in bench.WORKLOADS:
        print(f"tokbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    from tokbench.metrics import END_TO_END, PER_LAYER

    build = build_dir()
    isolate(build)
    t0 = time.perf_counter()
    spark = start_spark()
    spark_s = time.perf_counter() - t0
    try:
        result = bench.run(
            spark, build, args.workload, args.seed, args.seconds, bool(args.trace),
            t_start=T_START, spark_s=spark_s,
        )
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(build, "spark-local"), ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
