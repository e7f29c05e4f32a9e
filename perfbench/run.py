#!/usr/bin/env python3
"""Benchmark of the graft lakehouse engine: one command, two workloads.

    python3 perfbench/run.py --workload <dag_daily|curation>
        --seed <n> --seconds <s> --trace <0|1> [--sf 0.01]

Run from the repository root. The command builds the engine from source
(once per source state), makes the workload's inputs from the seed,
runs the benchmark JVM (set-up, one warm-up pass, a closed loop for the
given seconds, output checks), checks the outputs again in DuckDB,
and prints as its last line one JSON object: `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
metrics; with `--trace 1` they are the per-layer metrics of a traced
run, whose passes go untraced, traced, untraced. The line before it
carries the run metadata. Other entry points:

    python3 perfbench/run.py --write-manifest   # regenerate BENCHMARK.json
    python3 perfbench/run.py --record           # record curation results
    python3 perfbench/selftest.py               # every workload at sf0.001

See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402

RUN_SECONDS = 5
HEAP = "3g"
SETUPS = 3
JVM_TIMEOUT_S = 165

WORKLOADS = {
    "dag_daily": "the paper's daily DAG, bronze to silver to gold to audit, one "
                 "day per op; fixed-cost and single-task-key bound",
    "curation": "dedup, similarity and text-index queries; shuffles, CC loops, "
                "checkpoints and plan expressions, no lake or DAG work",
}
# simulated days generated for dag_daily: one warm-up day and up to
# three passes of two days (a traced run) use 7
DAG_DAYS = 12

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("run_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_p90_s", "s", "lower", 0.25),
    ("ops_ok_ratio", "ratio", "higher", 0.01),
    ("write_amp", "ratio", "lower", 0.1),
    ("cache_peak_mb", "MB", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

# per-layer metrics of the traced run: (name, unit); a workload reports
# 0 for the layers the other workload exercises
COMMON_LAYERS = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"), ("spark.job_busy_s", "s"), ("spark.task_s", "s"),
    ("spark.task_concurrency", "ratio"), ("spark.scan_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("spark.output_files", "count"), ("core.tables_warm_s", "s"),
    ("trace.overhead_ratio", "ratio"), ("trace.spans", "count"),
]
DAG_LAYERS = (
    [("sources.bronze_land_s", "s")]
    + [(f"silver.{k}_s", "s") for k in ("ticket", "review", "facility", "max_key")]
    + [(f"gold.cau_{k}_s", "s") for k in range(1, 9)]
    + [("audit.log_s", "s"), ("pipeline.dag_overhead_s", "s")])
CURATION_LAYERS = (
    [("queries.build_s", "s"), ("queries.action_s", "s")]
    + [(f"queries.{q}.{m}", u) for q in gen.CURATION_QUERIES
       for m, u in (("build_s", "s"), ("action_s", "s"), ("jobs", "count"),
                    ("shuffle_write_bytes", "bytes"))])
PER_LAYER = COMMON_LAYERS + DAG_LAYERS + CURATION_LAYERS


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def engine_sources():
    return sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file())


def source_hash():
    h = hashlib.sha256()
    files = engine_sources() + sorted(
        p for p in (HERE / "src").rglob("*") if p.is_file()) + [
        HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The Spark jars the engine builds against: the directory the
    engine's build.sbt names as `unmanagedBase`, else $SPARK_HOME/jars.
    The harness build and the benchmark JVM use the same directory."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    candidates = [Path(m.group(1))] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for jars in candidates:
        if jars.is_dir():
            return jars
    sys.exit("Spark jars not found: the engine's build.sbt names none and "
             "SPARK_HOME is not set")


def build(work):
    """Compile engine + harness with the benchmark's own sbt build; skip
    when the sources have not changed since the last build."""
    classes = HERE / "target" / "scala-2.13" / "classes"
    stamp = HERE / "target" / "perfbench.stamp"
    digest = source_hash()
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes, digest
    log("building engine and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_SPARK_JARS=str(spark_jars()),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tmp = work / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # sbt binds a unix socket under java.io.tmpdir, and a socket path may
    # hold about 100 bytes: pass the directory relative to sbt's working
    # directory, so a deep checkout still fits
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp.relative_to(HERE)}", f"-Djna.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(work / "build.log", "w") as out:
        rc = subprocess.call(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                              "compile"], cwd=HERE, env=env, stdout=out,
                             stderr=subprocess.STDOUT, timeout=840)
    if rc != 0:
        sys.exit(f"build failed (exit {rc}); see {work / 'build.log'}")
    stamp.write_text(digest)
    return classes, digest


def generate(workload, seed, sf, inputs):
    if inputs.exists():
        shutil.rmtree(inputs)
    if workload == "dag_daily":
        return gen.make_dag(str(inputs / "dag"), seed, sf, DAG_DAYS)
    gen.make_curation(str(inputs / "curation"), sf)
    path = HERE / "expected" / "curation.json"
    expected = json.loads(path.read_text()) if path.is_file() else {}
    return {"order": gen.curation_order(seed),
            "expected": expected.get(str(sf), {})}


JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, conf_path, work, deadline):
    jars = spark_jars()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # every path the JVM writes is under the work directory
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + JAVA_OPENS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.hadoop.hadoop.tmp.dir={work / 'hadoop-tmp'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{classes}:{jars}/*", "perfbench.Main", str(conf_path)])
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(f"benchmark JVM timed out; see {work / 'jvm.log'}")
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        sys.exit(f"benchmark JVM failed (exit {rc}):\n{tail}")


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def git_commit():
    try:
        return subprocess.check_output(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                       stderr=subprocess.DEVNULL,
                                       text=True).strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def run(args):
    t_start = time.monotonic()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"engine sources not found under {ROOT / 'src'}; "
                 "run from a repository checkout")
    work = HERE / ".work" / args.workload
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    classes, digest = build(work)
    deadline = time.monotonic() + JVM_TIMEOUT_S  # the build is not timed

    # input generation, repeated like the JVM set-up; median reported
    inputs = work / "inputs"
    gen_times = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        params = generate(args.workload, args.seed, args.sf, inputs)
        gen_times.append(time.perf_counter() - t0)

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "workload": args.workload, "inputs": str(inputs), "work": str(work),
        "seed": args.seed, "seconds": args.seconds, "trace": bool(args.trace),
        "setups": SETUPS, "cores": cpus, "record": args.record,
        "params": params,
        "out": str(work / "result.json"), "spans": str(work / "spans.jsonl"),
    }
    conf_path = work / "config.json"
    conf_path.write_text(json.dumps(conf))
    run_jvm(classes, conf_path, work, deadline)
    res = json.loads((work / "result.json").read_text())

    # output checks made outside the engine
    failures = [(f["op"], f["reason"]) for f in res["check_failures"]]
    if args.workload == "dag_daily":
        failures += oracle.dag_gold(str(inputs), params["days"],
                                    res["extra"]["root"], res["ops"])
    elif args.record:
        failures += oracle.curation_oracle(str(inputs), str(work),
                                           res["extra"]["oracle_sql"])

    ops = res["ops"]
    bad_ops = {o["id"] for o in ops if not o["ok"]} | {f[0] for f in failures}
    attempted = len(ops)
    failed = len(bad_ops)
    correct = failed == 0 and attempted > 0

    measured = [o for o in ops if o["pass"] > 0 and not o["traced"]]
    lat = [o["s"] for o in measured]
    untraced = [p["run_s"] for p in res["passes"] if not p["traced"]]
    traced = [p["run_s"] for p in res["passes"] if p["traced"]]
    jvm_setup = statistics.median(s["setup_s"] for s in res["setup"])
    stored = res["write_amp"]["stored_bytes"]
    landed = res["write_amp"]["landed_bytes"]
    end_to_end = {
        "run_s": statistics.median(untraced),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": quantile(lat, 0.9),
        "ops_ok_ratio": 1.0 - failed / attempted,
        "write_amp": stored / landed if landed else 0.0,
        "cache_peak_mb": res["peak_op_block_bytes"] / 2**20,
        "setup_s": statistics.median(gen_times) + jvm_setup,
    }
    overhead = (statistics.median(traced) / statistics.median(untraced) - 1
                if traced and untraced else None)
    if args.trace:
        layers = dict(res["layers"])
        layers["trace.overhead_ratio"] = overhead
        layers["trace.spans"] = sum(1 for _ in open(work / "spans.jsonl"))
        # layers a workload does not exercise read 0
        metrics = {n: {"value": float(layers.get(n) or 0.0), "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(end_to_end[n]), "unit": u}
                   for n, u, *_ in END_TO_END}

    meta = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
        "driver_heap": HEAP, "heap_max_bytes": res["jvm"]["heap_max_bytes"],
        "spark_version": res["jvm"]["spark_version"],
        "git_commit": git_commit(), "source_sha256": digest,
        "runs": len(untraced), "traced_runs": len(traced),
        "run_s_untraced": untraced, "run_s_traced": traced,
        "trace_overhead_ratio": overhead,
        "warmup_run_s": res["warmup_run_s"],
        "counter_passes": res["counter_passes"],
        "op_samples": len(lat), "ops_failed_ratio": failed / attempted,
        "op_s": [[o["name"], o["pass"], o["traced"], o["s"]] for o in ops],
        "setup": {"generate_s": gen_times, "jvm": res["setup"]},
        "write_amp_bytes": {"stored": stored, "landed": landed},
        "end_to_end": end_to_end,
        "failures": [{"op": o, "reason": r} for o, r in failures[:20]],
        "wall_s": time.monotonic() - t_start,
    }
    if args.record:
        record_curation(args.sf, res, failures)
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    results = HERE / "results"
    results.mkdir(exist_ok=True)
    (results / f"{args.workload}-sf{args.sf}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({"meta": meta, "result": out}, indent=1))
    for sub in ("inputs", "dag", "tmp", "spark-local", "hadoop-tmp", "record"):
        shutil.rmtree(work / sub, ignore_errors=True)
    print(json.dumps({"meta": meta}))
    print(json.dumps(out))


def record_curation(sf, res, failures):
    """Store the curation results as the expected values, but only when
    every query also matched its oracle SQL."""
    if failures:
        sys.exit(f"not recording: {failures}")
    path = HERE / "expected" / "curation.json"
    data = json.loads(path.read_text()) if path.exists() else {}
    data[str(sf)] = res["extra"]["results"]
    path.parent.mkdir(exist_ok=True)
    path.write_text(json.dumps(data, indent=1, sort_keys=True) + "\n")
    log(f"recorded {len(data[str(sf)])} curation results at sf{sf}")


def write_manifest():
    manifest = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, u, b, bound in END_TO_END],
        "per_layer": [{"name": n, "unit": u,
                       "better": "higher" if n == "spark.task_concurrency" else "lower"}
                      for n, u in PER_LAYER],
    }
    (ROOT / "BENCHMARK.json").write_text(json.dumps(manifest, indent=2) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--record", action="store_true",
                    help="run curation once and record its oracle-checked results")
    ap.add_argument("--write-manifest", action="store_true")
    args = ap.parse_args()
    if args.write_manifest:
        write_manifest()
        return
    if args.record:
        args.workload, args.trace = "curation", 0
    if not args.workload:
        ap.error("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
