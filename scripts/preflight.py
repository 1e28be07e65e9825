#!/usr/bin/env python
"""End-of-round preflight — run EVERY check the grading driver runs,
in one command, before committing:

    python scripts/preflight.py [--fast]

Sequence (each in its own subprocess so Spark sessions never overlap):
  1. pytest tests/ (full suite; skipped with --fast)
  2. pytest perfbench/selftest           — the benchmark harness's own
     self-tests (seeding, layout, metric arithmetic)
  3. scripts/plan_lint.py                — registry-wide scale
     anti-pattern sweep (cartesians, row UDFs, single-task windows)
  4. scripts/check_parity.py at sf0.01   — the driver's correctness gate
  5. scripts/driver_posture_smoke.py     — plain-session execution of
     every queries() entry + output-hashability guard
  6. bench.py                            — must emit parseable JSON
  7. scripts/check_determinism.py        — 3-vs-32-partition bit-equality
     (skipped with --fast)

Round 3 shipped a one-line breakage that errored 4 graded queries,
failed pytest, and zeroed the bench — every one of those was catchable
by this script in under 15 minutes. Exit 0 means ship."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str]):
    t0 = time.time()
    proc = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, timeout=3600
    )
    took = f"{time.time() - t0:.0f}s"
    lines = [
        ln
        for ln in (proc.stdout + proc.stderr).strip().splitlines()
        if ln.strip() and "Stage" not in ln
    ]
    msg = f"[{label}] rc={proc.returncode} {took}: " + " | ".join(lines[-2:])
    return proc.returncode == 0, msg, proc


def main() -> int:
    fast = "--fast" in sys.argv
    py = sys.executable
    steps: list[tuple[str, list[str]]] = []
    if not fast:
        steps.append(("pytest", [py, "-m", "pytest", "tests/", "-q"]))
    steps += [
        ("perfbench-selftest", [py, "-m", "pytest", "perfbench/selftest", "-q"]),
        ("plan-lint", [py, "scripts/plan_lint.py"]),
        ("parity@sf0.01", [py, "scripts/check_parity.py", "/root/testdata/sf0.01"]),
        ("posture", [py, "scripts/driver_posture_smoke.py", "/root/testdata/sf0.001"]),
        ("bench", [py, "bench.py"]),
    ]
    if not fast:
        steps.append(("determinism", [py, "scripts/check_determinism.py"]))

    ok_all = True
    for label, cmd in steps:
        ok, msg, proc = run(label, cmd)
        if label == "bench" and ok:
            # the driver parses the LAST stdout line as JSON — verify
            try:
                stdout_lines = [
                    ln for ln in proc.stdout.strip().splitlines() if ln.strip()
                ]
                json.loads(stdout_lines[-1])
            except Exception:
                ok = False
                msg += "  << bench stdout's last line not parseable as JSON"
        print(("PASS " if ok else "FAIL ") + msg, flush=True)
        ok_all = ok_all and ok
    print("PREFLIGHT " + ("GREEN — ship it" if ok_all else "RED — do NOT commit"))
    return 0 if ok_all else 1


if __name__ == "__main__":
    raise SystemExit(main())
