#!/usr/bin/env python3
"""Benchmark of the rollup engine, end to end and layer by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload publish_small --seed 1 --seconds 6 --trace 0

Prints one JSON line of host-health fields, then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run. Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HARD_LIMIT_S = 170  # a run that has not ended by then is killed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("publish_small", "daily_append"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed serving phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--drop-data-file", action="store_true",
                    help="self-test fault: delete one published data file before the fsck")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mimirsbrunn_spark")):
        print("perfbench: run from the root of a checkout (mimirsbrunn_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["TZ"] = "UTC"  # collected timestamps are naive; read them as UTC
    time.tzset()

    import workloads

    # built once per checkout and engine version, before the time limit
    # starts: only the first run of a workload in a checkout pays for it
    workloads.ensure_template(root, args.workload, args.scale)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    watchdog = threading.Timer(HARD_LIMIT_S, _kill, args=(work,))
    watchdog.daemon = True
    watchdog.start()
    try:
        out = workloads.run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            scale=args.scale, drop_data_file=args.drop_data_file,
        )
    finally:
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": out["host"]}))
    print(json.dumps(out["result"]))
    return 0


def _kill(work: str) -> None:
    """Past the hard limit: stop the JVM, clean up and exit non-zero."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        proc.kill()
        proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run exceeded {HARD_LIMIT_S} s", file=sys.stderr)
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
