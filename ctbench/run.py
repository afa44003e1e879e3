#!/usr/bin/env python3
"""CT serve-and-ingest benchmark.

Builds the program (src/main/scala) and the benchmark (ctbench/src) from
source with the Scala compiler that ships in Spark's jar directory, then
runs one workload in a fresh JVM:

    python3 ctbench/run.py --workload serve_read --seed 1 --seconds 20 --trace 0
    python3 ctbench/run.py --self-test

The last line of standard output is the result JSON. A run whose outputs
fail a correctness check prints it and exits with code 1. See ctbench/README.md.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "ctbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
WORKLOADS = ("serve_read", "mixed_tail")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700

# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"ctbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not files or not os.path.isdir(PROGRAM_RES):
        die(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}; "
            "run from a checkout of the repository")
    if not bench:
        die("benchmark sources missing")
    return files + bench


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        die("no Spark jars found: set SPARK_HOME to the Spark installation")
    return jars


def build(files, digest, jars):
    """Compile program + benchmark into .bench_build/ctbench/classes-<digest>."""
    out = os.path.join(BUILD, f"classes-{digest}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        die("Scala compiler jars not found next to Spark's jars")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    print(f"ctbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the generator/checker tests instead of a workload")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")

    files = sources()
    digest = source_hash(files)
    jars = spark_jars()
    classes = build(files, digest, jars)
    started = time.time()

    work = os.path.join(BUILD, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    java = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", os.pathsep.join([classes, PROGRAM_RES, os.path.join(SPARK_JARS, "*")])]
    if args.self_test:
        java += ["graft.bench.SelfTest"]
    else:
        java += ["graft.bench.Main", "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", work, "--out", result_file,
                 "--commit", git_commit(), "--source-hash", digest]
    proc = subprocess.Popen(java, cwd=work, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die("run exceeded its time limit")
    try:
        if code != 0:
            die(f"benchmark JVM exited with code {code}")
        if args.self_test:
            return
        with open(result_file) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(select_metrics(result, args.trace)), flush=True)
    if not result["correct"]:
        print(f"ctbench: {result['failed']} of {result['attempted']} checks failed", file=sys.stderr)
        sys.exit(1)


def select_metrics(result, trace):
    """Keep exactly the metrics BENCHMARK.json lists for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        die(f"run did not produce metrics {missing}")
    result["metrics"] = {n: result["metrics"][n] for n in names}
    return result


if __name__ == "__main__":
    main()
