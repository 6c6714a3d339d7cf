#!/usr/bin/env python3
"""Serving-lifecycle benchmark of the graft library.

Usage (from the repository root):
    python3 perfbench/run.py --workload serve|batch-suite \\
        --seed N --seconds S --trace 0|1

Builds the benchmark (perfbench/build.sbt compiles the library's sources
with the benchmark's) on first use, runs one workload in one JVM, checks its
correctness gates (and, for batch-suite, each query's output digest against
its DuckDB oracle over the same generated tables), prints a report, and
prints one JSON result line last. With --trace 0 the line holds the
end-to-end metrics of BENCHMARK.json; with --trace 1 its per-layer metrics.
Exits 1 when a gate fails, 2 when the benchmark cannot run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIBRARY = ROOT / "src" / "main" / "scala" / "graft"
CLASSPATH = BENCH / "target" / "classpath.txt"
# Input tables and scale factor per workload (sf0.1 = the sf0.1 test data's
# row counts). At these sizes fixed per-batch and per-query costs already
# dominate, and a run stays well inside its time limit.
TABLES = {"serve": (("customer", "part", "orders", "lineitem"), 0.03),
          "batch-suite": (("customer", "part", "orders", "lineitem"), 0.01)}
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 165
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def newest_source_mtime():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    newest = 0.0
    for r in roots:
        paths = [r] if r.is_file() else r.rglob("*")
        newest = max([newest] + [p.stat().st_mtime for p in paths if p.is_file()])
    return newest


def build():
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= newest_source_mtime():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    log = BENCH / "target" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.supershell=false", "compile", "writeClasspath"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=fh,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not CLASSPATH.exists():
        sys.stderr.write(log.read_text()[-4000:])
        die(f"build failed (exit {rc}); log at {log}")
    CLASSPATH.touch()


def run_jvm(args, work):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = (["java", "-Xmx3g", "--add-modules=jdk.incubator.vector",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
           + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work)])
    with open(work / "jvm.log", "w") as fh:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=fh,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    result = work / "result.json"
    if rc != 0 or not result.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        die(f"{args.workload} run failed (exit {rc})")
    return json.loads(result.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not LIBRARY.is_dir():
        die(f"library sources not found under {LIBRARY}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    build()
    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sys.path.insert(0, str(BENCH))
    import inputs
    import oracle
    try:
        t0 = time.time()
        (work / "data").mkdir()
        tables, sf = TABLES[args.workload]
        inputs.write(str(work / "data"), args.seed, inputs.scaled(sf), tables)
        res = run_jvm(args, work)
        gates = [(g["name"], g["ok"], g["detail"]) for g in res["gates"]]
        if args.workload == "batch-suite":
            gates += [(f"digest_{q}", ok, d) for q, ok, d in oracle.check_suite(
                str(work / "data"), res["extra"]["suite_out"],
                res["extra"]["suite_queries"].split(","))]
        print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} wall={time.time() - t0:.1f}s")
        for name, m in res["metrics"].items():
            print(f"metric {name} = {m['value']:.6g} {m['unit']}")
        for name, m in res["layers"].items():
            print(f"layer {name} = {m['value']:.6g} {m['unit']}")
        for note in res["notes"]:
            print(f"note {note}")
        for name, ok, detail in gates:
            print(f"gate {'ok  ' if ok else 'FAIL'} {name}: {detail}")
        correct = all(ok for _, ok, _ in gates)
        source = res["layers"] if args.trace else res["metrics"]
        metrics = {}
        for m in wanted:
            if m["name"] not in source:
                die(f"metric {m['name']} not measured on {args.workload}")
            metrics[m["name"]] = {"value": source[m["name"]]["value"], "unit": m["unit"]}
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
