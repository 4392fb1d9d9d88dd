#!/usr/bin/env python3
"""Layered benchmark of xarray_histogram_spark.

    python3 perfbench/run.py --workload interactive_session --seed 1 \
        --seconds 15 --trace 0

Runs one closed-loop, single-client workload against the package's public
API in this process, with one pinned local SparkSession.  Every distinct
request is checked once against an independent reference (NumPy on the
generated input, DuckDB for the rest) during an untimed warm-up; each
timed result's exact checksum is then compared with the verified one.
Prints a run record and, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--self-test`` runs every workload on tiny inputs and checks the output
contract (see README.md)."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_START = process_start_epoch()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-test")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="replace one verified checksum with a wrong one "
                        "(self-test: the timed ops of that request must "
                        "count as failed)")
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args(argv)
    if not a.self_test and not a.workload:
        p.error("--workload is required")
    return a


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM, Python and DuckDB write inside
    ``work`` (under the checkout)."""
    for d in ("tmp", "spark-local", "duck"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.self_test:
        import selftest

        return selftest.main(ROOT)
    if not os.path.isdir(os.path.join(ROOT, "xarray_histogram_spark")):
        print(f"perfbench: no xarray_histogram_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    import harness

    if args.workload not in harness.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    # on SIGTERM, still stop the JVM and remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        record, result = harness.run(args, ROOT, work, T_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    sys.exit(main())
