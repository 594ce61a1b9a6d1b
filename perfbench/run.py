#!/usr/bin/env python3
"""gdalspark benchmark runner.

    python3 perfbench/run.py --workload pipeline|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Compiles the library (src/main/scala)
and the benchmark driver (perfbench/src) with scalac against the Spark
jars ($SPARK_HOME/jars, else the directory build.sbt names) into .bench_build/,
reusing the classes while the sources are unchanged, then runs one
workload in a fresh JVM. The last line of standard output is the result
object {"correct", "attempted", "failed", "metrics"}; the line before it
carries the run's context (host, bandwidth probes, checks, failures).
Exits non-zero when the build fails, the run fails, or an output check
fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
WORKLOADS = ("pipeline", "query_mix")
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the library's build.sbt names."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.isfile(sbt) else None
        if not m:
            die(f"cannot find the Spark jars: set SPARK_HOME or run from a gdalspark checkout")
        d = m.group(1)
    jars = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar")) if os.path.isdir(d) else []
    if not jars:
        die(f"no Spark jars under {d}")
    return jars


def scala_sources():
    if not os.path.isdir(LIB_SRC):
        die(f"library sources not found at {LIB_SRC}; run from a gdalspark checkout")
    files = []
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile once per source tree; returns the classes directory."""
    files = scala_sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", tmp, "-classpath", cp] + files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    rc = subprocess.call(["java", "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main", "@" + argfile],
                         stdout=sys.stderr)
    if rc != 0:
        die("scalac failed", 1)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(cmd):
    """Runs the benchmark JVM, echoing its stdout; returns (rc, last line)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)

    def stop(*_):
        proc.kill()

    timer = threading.Timer(RUN_TIMEOUT_S, stop)
    timer.start()
    old = {s: signal.signal(s, lambda *_: (stop(), sys.exit(130))) for s in (signal.SIGINT, signal.SIGTERM)}
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.strip():
                if last is not None:
                    print(last)
                last = line
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        for s, h in old.items():
            signal.signal(s, h)
    return rc, last


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    expected = expected_metrics(a.trace)
    jars = spark_jars()
    classes = build(jars)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", ROOT])
    rc, last = run_jvm(cmd)
    try:
        result = json.loads(last or "")
    except ValueError:
        die(f"benchmark JVM exited {rc} without a result line", 1)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {last}", 1)
    if list(result["metrics"]) != expected:
        die(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(expected)}", 1)
    if rc != 0:
        die(f"benchmark JVM exited {rc}", 1)
    print(json.dumps(result))
    if not result["correct"]:
        die("output check failed; see the context line above", 1)


if __name__ == "__main__":
    main()
