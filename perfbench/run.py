#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the engine and the
benchmark from source with sbt (into perfbench/target) and generates the
input tables (into .bench_build/data); later calls reuse both while the
sources are unchanged. Each run gets a fresh work root under
.bench_build/runs for its tables, warehouse and Spark local directory, and
deletes it on exit. The last line of stdout is the result JSON; the line
before it names the workload, seed and core count. Traced runs also write
their spans to .bench_build/traces.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["relational", "lake-churn", "object-io"]
SF = 0.01
JVM_TIMEOUT_S = 170
# two Spark cores: on a shared four-core host, runs with four were slower
# and spread wider, as the JIT, GC and driver threads lost their CPUs
CORES = min(2, os.cpu_count() or 1)
# packages Spark reflects into; build.sbt reads the same list for its tests
ADD_OPENS = os.path.join(HERE, "add-opens.txt")


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return home


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the engine sources (src/main/scala) are missing")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_hash()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building engine and benchmark with sbt")
    t = time.time()
    rc = subprocess.call(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit(f"perfbench: sbt compile failed with code {rc}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build took {time.time() - t:.1f}s")
    return classes


def data():
    out = os.path.join(BUILD, "data", f"sf{SF}")
    if not os.path.isdir(out):
        log(f"generating input tables at sf{SF}")
        subprocess.check_call([sys.executable, os.path.join(HERE, "gen_data.py"), out, "--sf", str(SF)],
                              stdout=sys.stderr)
    return out


def jvm_cmd(classes, main_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cp = classes + os.pathsep + os.path.join(spark_home(), "jars", "*")
    with open(ADD_OPENS) as fh:
        opens = [x for p in fh.read().split() for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only: with tiered C2 the JIT was still speeding ops up after a short
    # warm pass, at a pace that differed by 20% from one JVM to the next
    return ([java, "-XX:TieredStopAtLevel=1", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
             f"-Dperfbench.expected={os.path.join(HERE, 'expected_digests.json')}"]
            + opens + ["-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(cmd, log_path):
    """Run the benchmark JVM; return (exit code, stdout). Kills it on timeout."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return 124, ""
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build()
    data_dir = data()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data_dir, "--work", work, "--cores", str(CORES)]
    if a.trace:
        args += ["--spans", os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.jsonl")]
    log_path = os.path.join(logs, run_id + ".log")
    try:
        rc, out = run_jvm(jvm_cmd(classes, args), log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if rc != 0 or not isinstance(result, dict) or "metrics" not in result:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"perfbench: run failed (jvm exit {rc})")
    with open(log_path) as fh:
        sys.stderr.write("".join(ln for ln in fh if ln.startswith("perfbench:")))
    os.remove(log_path)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": CORES, "sf": SF,
                      "seconds": a.seconds, "trace": a.trace}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
