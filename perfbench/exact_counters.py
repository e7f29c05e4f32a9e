#!/usr/bin/env python3
"""List the per-layer counters that repeat exactly across traced passes.

    python3 perfbench/exact_counters.py perfbench/results/*-trace1.json

Reads traced result files and writes `perfbench/exact_counters.json`.
Each traced pass records its Spark counters and each operation's job,
stage, task and shuffle-write counts (`counter_passes` in the metadata).
A counter is exact when every traced pass of every run read the same
value. Runs are grouped by workload and sf (the self-test's sf0.001
results sit beside the sf0.01 ones), and a group is listed only with at
least MIN_RUNS runs. The counters that varied are listed with their
smallest and largest value and the number of distinct values. A later
change may rest a count claim only on a counter listed as exact (and
only while it does not move, remove or redefine that counter).
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
MIN_RUNS = 5
SPARK_COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks",
                  "spark.scan_bytes", "spark.shuffle_write_bytes",
                  "spark.shuffle_read_bytes", "spark.spill_bytes",
                  "spark.output_bytes", "spark.output_files")
OP_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes")


def pass_values(p):
    """Counter name -> values of one traced pass. An operation that runs
    several times in a pass (a day of dag_daily) adds one value per run."""
    out = defaultdict(list)
    for name in SPARK_COUNTERS:
        out[name].append(p["spark"][name])
    for op in p["ops"]:
        prefix = "dag_day" if op["name"] == "dag_day" else f"queries.{op['name']}"
        for c in OP_COUNTERS:
            out[f"{prefix}.{c}"].append(op[c])
    return out


def main(paths):
    runs = defaultdict(list)
    for p in paths:
        data = json.loads(Path(p).read_text())
        meta = data["meta"]
        if meta["trace"] and data["result"]["correct"] and "counter_passes" in meta:
            runs[f"{meta['workload']} sf{meta['sf']}"].append(meta)
    out = {}
    for group, metas in sorted(runs.items()):
        if len(metas) < MIN_RUNS:
            print(f"{group}: {len(metas)} runs, fewer than {MIN_RUNS}; not listed")
            continue
        values = defaultdict(list)
        passes = 0
        for meta in metas:
            for p in meta["counter_passes"]:
                passes += 1
                for name, vs in pass_values(p).items():
                    values[name] += vs
        exact, varied = [], {}
        for name, vs in sorted(values.items()):
            if max(vs) == 0:
                continue  # not exercised by this workload
            if len(set(vs)) == 1:
                exact.append(name)
            else:
                varied[name] = {"min": min(vs), "max": max(vs),
                                "distinct": len(set(vs))}
        out[group] = {"runs": len(metas), "traced_passes": passes,
                      "seeds": sorted(m["seed"] for m in metas),
                      "exact": exact, "varied": varied}
    (HERE / "exact_counters.json").write_text(json.dumps(out, indent=1) + "\n")
    for group, o in out.items():
        print(f"{group}: {len(o['exact'])} exact, {len(o['varied'])} varied "
              f"over {o['runs']} runs, {o['traced_passes']} traced passes")


if __name__ == "__main__":
    main(sys.argv[1:])
