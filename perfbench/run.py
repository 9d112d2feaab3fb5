#!/usr/bin/env python3
"""Benchmark command: builds the program from source, runs one workload
in its own JVM and prints one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: telemetry_sessions, control_stream (see perfbench/README.md).
The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). A `detail` line before it carries the
other measured figures. Exit code 0 only when every output checked out.

Build outputs, run directories and traces go to `.bench_build/` (or
`$CARGO_TARGET_DIR`) under the current directory; nothing is written
elsewhere.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = ("telemetry_sessions", "control_stream")
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """`$SPARK_HOME/jars`, else the jar directory the build file names as
    its `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            die("set SPARK_HOME: no Spark jar directory in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        die(f"no Spark jars under {jars}")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not main:
        die("no program sources under src/main/scala: run from the repository root")
    return main, bench


def scalac(jars, out, classpath, files):
    def jar(prefix):
        found = sorted(glob.glob(os.path.join(jars, f"{prefix}-2.13*.jar")))
        if not found:
            die(f"no {prefix} jar under {jars}")
        return found[0]
    tool_cp = ":".join(jar(p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", tool_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die(f"compile failed ({out})")


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir, jars):
    """Compiles the program, then the benchmark against it; each is
    compiled again only when its sources change."""
    main, bench = sources(root)
    classes = os.path.join(build_dir, "classes")
    main_out = os.path.join(classes, "main")
    bench_out = os.path.join(classes, "bench")
    os.makedirs(classes, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        main_stamp = _digest(main)
        bench_stamp = main_stamp + _digest(bench)
        for out, stamp, files, cp in (
                (main_out, main_stamp, main, os.path.join(jars, "*")),
                (bench_out, bench_stamp, bench, main_out + ":" + os.path.join(jars, "*"))):
            stamp_file = out + ".stamp"
            if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
                continue
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            scalac(jars, out, cp, files)
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
            print(f"perfbench: compiled {os.path.basename(out)} in {time.time() - t0:.1f} s",
                  file=sys.stderr)
    return main_out, bench_out


def run_jvm(cmd, cwd, env, log_path):
    """Runs the JVM; returns (exit status, peak RSS in MB of that process)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT)
        timer = threading.Timer(JVM_TIMEOUT_S, p.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, usage.ru_maxrss / 1024.0


def declared_metrics(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars(root)
    end_to_end, per_layer = declared_metrics(root)
    main_out, bench_out = build(root, build_dir, jars)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(build_dir, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    log_dir = os.path.join(build_dir, "logs")
    os.makedirs(log_dir, exist_ok=True)

    out = os.path.join(run_dir, "result.json")
    trace_file = os.path.join(build_dir, "traces", f"{tag}.json")
    # A fixed-size heap with the parallel collector and a fixed young
    # generation: the heap neither grows nor shrinks between runs, so the
    # resident set and the collector's pauses repeat from run to run.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.legacy.parquet.nanosAsLong=true"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join([bench_out, main_out, os.path.join(jars, "*")]),
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(run_dir, "work"), "--out", out,
              "--trace-file", trace_file])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    log_path = os.path.join(log_dir, f"{tag}.log")
    code, peak_mb = run_jvm(cmd, run_dir, env, log_path)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        die(f"benchmark JVM exited with {code}; log: {log_path}")
    with open(out) as fh:
        res = json.load(fh)

    failures = list(res["failures"])
    for f in failures:
        print(f"perfbench: CHECK FAILED: {f}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)

    measured = dict(res["metrics"], peak_mem_mb={"value": peak_mb, "unit": "MB"})
    detail = res["detail"]
    layers = res["layers"]
    names = per_layer if args.trace else end_to_end
    source = layers if args.trace else measured
    missing = [n for n in names if n not in source]
    if missing:
        die(f"metrics not measured: {missing}")
    print(json.dumps({"detail": detail,
                      "layers": {k: v for k, v in layers.items() if k not in names},
                      "trace_file": os.path.relpath(trace_file, root) if args.trace else None}))
    correct = bool(res["correct"]) and not failures
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {n: source[n] for n in names}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
