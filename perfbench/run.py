#!/usr/bin/env python3
"""Release-day benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the harness and the program from
source on first use (sbt, in perfbench/), runs the workload in one JVM on
local[nproc], checks its outputs by an independent path (checks.py, DuckDB),
and prints the run record followed, as the last line, by the result:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics, traced runs the per-layer ones (see README.md).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORK = os.path.join(ROOT, ".bench_work")
RUNS = os.path.join(ROOT, ".bench_runs")
WORKLOADS = ("release_day", "curation_night")
JVM_TIMEOUT_S = 165
# Spark on JDK 17 outside spark-submit (the list build.sbt forks with)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (PROGRAM, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(BENCH, "build.sbt")))


def build():
    """Compiles the program and the harness unless the build is current."""
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM, ROOT)}")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "writeClasspath"]
    proc = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")


def heap():
    """Half the host's memory in GiB, clamped to 2..8 (the tier-1 rule)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(max(kb // 2097152, 2), 8)}g"


def calibrate():
    """Seconds for a fixed single-core integer kernel: a host-speed reading
    taken at the start and end of every run, to tell host drift from code."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def run_jvm(args, out):
    cpus = str(os.cpu_count() or 1)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main",
                          "--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--work", os.path.join(WORK, "run"), "--out", out,
                          "--launched-ms", str(int(time.time() * 1000))])
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload {args.workload} did not finish within {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        fail(f"workload {args.workload} exited with code {code}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    build()
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "run"):
        os.makedirs(os.path.join(WORK, d))
    calib_start = calibrate()
    out = os.path.join(WORK, "result.json")
    try:
        run_jvm(args, out)
        with open(out) as f:
            res = json.load(f)
        sys.path.insert(0, BENCH)
        sys.dont_write_bytecode = True
        import checks
        check_failures, check_notes = checks.run(args.workload, args.seed, res)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    calib_end = calibrate()

    failed = res["failed"] + check_failures
    result = {"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
              "metrics": res["metrics"]}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "calibration_s": {"start": calib_start, "end": calib_end},
              "failed_ratio": failed / max(res["attempted"], 1),
              "check_notes": check_notes, **res["record"], "metrics": res["metrics"]}
    os.makedirs(RUNS, exist_ok=True)
    with open(os.path.join(RUNS, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
