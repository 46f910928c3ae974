"""Feature-store benchmark: history rebuild, daily increment, online serving.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The benchmark builds its inputs from ``--seed``
with ``gen.py``, drives the public pipeline entry points and the HTTP API,
checks every output (``checks.py``) and prints one JSON result as the last
line of stdout. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
prints the per-layer metrics (``metrics.py``) and the tracing overhead.
See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"  # the box has 15 GB; get_spark defaults to 16g
WORKLOADS = ("history_rebuild", "daily_increment")


def pin_environment(work: str) -> None:
    """Everything the program and its Spark workers inherit."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # the program chooses its own shuffle partitions (SPARK_GRAFT_CPUS or
    # the core count); only the master is pinned
    for var in (
        "SPARK_MASTER",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_EXTRA_CONF",
        "SPARK_CONF_DIR",
        "PYSPARK_SUBMIT_ARGS",
    ):
        os.environ.pop(var, None)
    os.environ.update(
        {
            # Spark's Python workers import the program (foreachPartition)
            # and the benchmark's traced KV client.
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "TMPDIR": tmp,
            # every JVM (launcher and driver): temp files in the work dir,
            # no hsperfdata file in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONHASHSEED": "0",
        }
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mini_feature_store_spark", "__init__.py")):
        print("perfbench: mini_feature_store_spark not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)  # before any import can cache a temp dir
    sys.path[:0] = [ROOT, HERE]
    import workloads  # noqa: E402  (needs sys.path)

    runner = workloads.Runner(work, args.workload, args.seed, args.seconds, NPROC, bool(args.trace))
    t0 = time.time()
    try:
        result = runner.run()
    finally:
        runner.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(f"perfbench: {args.workload} seed={args.seed} wall={time.time() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
