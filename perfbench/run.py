#!/usr/bin/env python3
"""Pipeline benchmark: one workload run.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the harness from
source (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), and runs the workload in one JVM on
local[CORES] with a fixed heap: a set-up, a cold operation, then warm
operations for S seconds, with every output checked. An untraced run
then starts SETUPS - 1 more JVMs that only set up, one after another,
and reports the median set-up. The last line of standard output is one
JSON object. A traced run also writes its spans to
.bench_build/perfbench/traces/. Workloads are described in
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("archive_cold", "weekly_ledger")
CORES = min(2, len(os.sched_getaffinity(0)))
HEAP = "3g"
# JVMs set up per untraced run, each from its own launch; setup_s is the
# median of their set-up times.
SETUPS = 3
# Time the JVMs of a run may take beyond its measured seconds: set-ups,
# the cold operation, checks and shutdown took up to 75 s on a 4-vCPU VM.
JVM_ALLOWANCE_S = 150
# Drops generated per measured second, far more than a drop rate of one
# per 4-6 s on a 4-vCPU VM uses; the harness reports running out.
DROPS_PER_S = 2

# build.sbt's module openings for Spark on JDK 17
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found; run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    t_build = time.time()
    cp = subprocess.run([sys.executable, os.path.join(HERE, "build.py")],
                        check=False, stdout=subprocess.PIPE, text=True)
    if cp.returncode != 0:
        fail("build failed")
    classpath = cp.stdout.strip().splitlines()[-1]

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    data = os.path.join(work, "data")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}"
    deadline = time.time() + a.seconds + JVM_ALLOWANCE_S

    def jvm(name, setup_only):
        """Runs one JVM of the workload in its own work directory and
        returns its result."""
        jwork = os.path.join(work, name)
        tmp = os.path.join(jwork, "tmp")
        os.makedirs(tmp)
        result = os.path.join(jwork, "result.json")
        log_path = os.path.join(BUILD, f"{tag}-trace{a.trace}-{name}.log")
        cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", "-XX:-UsePerfData", *ADD_OPENS,
               f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={os.path.join(jwork, 'warehouse')}",
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-cp", classpath, "perfbench.PerfBench",
               f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
               f"trace={a.trace}", f"setup_only={int(setup_only)}", f"cores={CORES}",
               f"data={data}", f"work={jwork}", f"result={result}",
               f"spans={os.path.join(traces, tag + '.spans.json')}"]
        with open(log_path, "w") as log:
            cmd.append(f"launched={int(time.time() * 1000)}")
            proc = subprocess.Popen(cmd, cwd=jwork, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"workload run timed out; log: {log_path}")
        if code != 0 or not os.path.exists(result):
            fail(f"harness exited with {code}; log: {log_path}")
        with open(result) as f:
            return json.load(f)

    try:
        gen = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(a.seed),
               "--out", data]
        if a.workload == "archive_cold":
            gen += ["--drops", "0", "--no-json"]
        else:
            gen += ["--drops", str(int(DROPS_PER_S * a.seconds) + 8)]
        t_gen = time.time()
        subprocess.run(gen, check=True)
        t_jvm = time.time()
        res = jvm("main", False)
        extra = [] if a.trace else [jvm(f"setup{i}", True) for i in range(1, SETUPS)]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    setups = [res["setup_s"]] + [e["setup_s"] for e in extra]
    errors = res["errors"] + [e for r in extra for e in r["errors"]]
    metrics = res["metrics"]
    if not a.trace:
        metrics = {"setup_s": {"value": statistics.median(setups), "unit": "s"}, **metrics}
    out = {"correct": res["correct"] and all(e["correct"] for e in extra),
           "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}
    if a.trace:
        with open(os.path.join(traces, tag + ".metrics.json"), "w") as f:
            json.dump(res, f, indent=1)
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(f"perfbench: set-ups {setups}, operations {res['ops_s']}, "
          f"CPU {res['cpu_s']}, staged after {res['stage_s']}; "
          f"build {t_gen - t_build:.1f}s, generate {t_jvm - t_gen:.1f}s, "
          f"JVMs {time.time() - t_jvm:.1f}s", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
