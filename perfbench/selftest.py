"""Harness self-test. Run from the repository root:

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` agrees with the catalogue in ``metrics.py``.
2. For every workload, a run with ``--plant-error`` (one output corrupted
   before checking) reports ``correct: false`` and ``failed_frac > 0``.
3. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``, the
   benchmark exits non-zero without printing a result.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import WORKLOADS, benchmark_json  # noqa: E402


def _run(cwd: str, workload: str, *extra: str) -> tuple[int, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", "0", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        if json.load(f) != benchmark_json():
            print("FAIL: BENCHMARK.json differs from perfbench/metrics.py")
            return 1
    print("ok: BENCHMARK.json matches the metric catalogue")

    for w in WORKLOADS:
        code, out = _run(ROOT, w, "--plant-error")
        result = json.loads(out.strip().splitlines()[-1]) if code == 0 else None
        if not result or result["correct"] or not result["failed"] > 0:
            print(f"FAIL: planted error not detected on {w}: exit={code} {result}")
            return 1
        print(f"ok: {w} planted error seen, failed_frac="
              f"{result['failed'] / result['attempted']:.6f}")

    bare = os.path.join(HERE, "out", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    code, out = _run(bare, next(iter(WORKLOADS)))
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or out.strip():
        print(f"FAIL: bare directory run exited {code} with output {out!r}")
        return 1
    print(f"ok: bare directory run exits {code} without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
