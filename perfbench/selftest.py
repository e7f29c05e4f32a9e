#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001: every workload, untraced and
traced, must complete with all output checks passing and print every
metric it promises.

    python3 perfbench/selftest.py [--workload NAME]

Exits non-zero on the first failure.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def check(workload, trace):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        return f"exit {out.returncode}: {out.stderr[-1500:]}"
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    meta = json.loads(lines[-2])["meta"]
    expected = ([n for n, *_ in run.END_TO_END] if not trace
                else [n for n, _ in run.PER_LAYER])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"checks failed: {meta['failures']}")
    if sorted(result["metrics"]) != sorted(expected):
        problems.append("metric names differ from the declared ones")
    if not trace and any(result["metrics"][n]["value"] <= 0 for n in expected):
        problems.append("an end-to-end metric is not positive")
    return "; ".join(problems)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(run.WORKLOADS))
    args = ap.parse_args()
    failed = False
    for workload in [args.workload] if args.workload else list(run.WORKLOADS):
        for trace in (0, 1):
            problem = check(workload, trace)
            print(f"{'FAIL' if problem else 'ok  '} {workload} trace={trace} {problem}",
                  flush=True)
            failed |= bool(problem)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
