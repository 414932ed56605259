#!/usr/bin/env python3
"""Run one graftbench measurement.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the benchmark and
the program from source with sbt, which writes the runtime classpath to
graftbench/target/bench.classpath and the JVM options to
graftbench/target/bench.jvmopts, then writes the seed-independent
catalog tables in a JVM of their own. Every run then starts its JVM
straight from those files, so neither the build tool nor the data
generation runs inside a measurement. The last line of stdout is the
result JSON; everything else goes to stderr.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
JVMOPTS = os.path.join(TARGET, "bench.jvmopts")
DATA = os.path.join(TARGET, "data")
WORKLOADS = ("media_etl", "catalog_light", "gate_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 560  # with the two below, a first run ends within 900 s
GEN_TIMEOUT_S = 150
HEAP = "3g"


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile with sbt unless the classpath file is newer than every
    source. Returns whether it compiled."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            sys.exit(f"graftbench: program sources not found ({os.path.relpath(need, ROOT)} missing)")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return False
    log("building with sbt")
    t0 = time.time()
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        BUILD_TIMEOUT_S, "build", stdout=sys.stderr, cwd=BENCH)
    if code != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"graftbench: build failed (sbt exit {code})")
    log(f"built in {time.time() - t0:.0f} s")
    return True


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm(work):
    """The java command line up to the main class, with `work` as the
    JVM's temp dir."""
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    with open(JVMOPTS) as f:
        opts = [l.strip() for l in f if l.strip()]
    return [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", *opts,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", classpath, "graftbench.Main"]


def run_group(cmd, timeout, what, stdout=subprocess.PIPE, cwd=None):
    """Runs `cmd` in its own process group and returns (exit code,
    stdout); kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, stdout=stdout, stderr=sys.stderr, cwd=cwd,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"graftbench: {what} exceeded {timeout} s")
    return proc.returncode, out


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def generate():
    """Writes the catalog tables into DATA in a JVM of their own, so
    every measured JVM starts from the same state."""
    log("generating the catalog tables")
    t0 = time.time()
    work = fresh_dir(os.path.join(TARGET, "runs", f"gen-{os.getpid()}"))
    tmp = DATA + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        code, _ = run_group(jvm(work) + ["--gen", "--data", tmp, "--work", work],
                          GEN_TIMEOUT_S, "catalog generation")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"graftbench: catalog generation failed (exit {code})")
    os.rename(tmp, DATA)
    log(f"generated in {time.time() - t0:.0f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if build():
        shutil.rmtree(DATA, ignore_errors=True)  # the generator may have changed
    if not os.path.isdir(DATA):
        generate()
    work = fresh_dir(os.path.join(TARGET, "runs", str(os.getpid())))
    cmd = jvm(work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
        "--data", DATA,
        "--digests", os.path.join(BENCH, "digests.tsv"),
        "--trace-out", os.path.join(TARGET, "traces", f"{a.workload}-{a.seed}.jsonl"),
    ]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, "run")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.exit(f"graftbench: benchmark JVM failed (exit {code})")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
