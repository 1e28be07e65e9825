#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 16 --trace 0

Builds the seeded inputs, starts the engine's session, warms with one full
pass, measures for ``--seconds``, checks every output against its oracle
and prints one JSON line last: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything it writes goes under
``.perfbench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = os.path.join(ROOT, "big_data_analytics_final_project_spark", "__init__.py")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str, trace: bool) -> dict[str, str]:
    """Process environment and session settings. Python workers inherit
    the environment, so the repository goes on their PYTHONPATH."""
    for sub in ("tmp", "local", "data", "out", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # load_table caches zone scans only under this root; set before import.
    os.environ["SPARK_GRAFT_DATA_ROOT"] = os.path.join(work, "data")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # The zstandard module is not installed; keep the log plain.
            "spark.eventLog.compress": "false",
        })
    return conf


def main() -> int:
    if not os.path.isfile(PROGRAM):
        print(f"program package not found under {ROOT}", file=sys.stderr)
        return 2
    if sys.flags.optimize:
        print("the output checks use assert; run without -O", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the program, tests/parity.py and this package by name
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        conf = _environment(work, bool(args.trace))
        from perfbench.runner import run

        result = run(args, work, conf, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
