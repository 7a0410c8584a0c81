#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload g500_kernel --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine (src/main/scala) together
with the benchmark driver (perfbench/src) with sbt, and caches the class path
under perfbench/.work; later runs start the driver JVM directly. The last
line of standard output is one JSON object with the keys correct, attempted,
failed and metrics. perfbench/README.md describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("g500_kernel", "g500_distributed", "queries_sf001")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in roots:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or interruption, and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(env):
    """Compile once per source fingerprint; return the runtime class path."""
    state = os.path.join(WORK, "build.json")
    fp = fingerprint()
    if os.path.exists(state):
        with open(state) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)[:1]):
            return cached["classpath"]
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    print("perfbench: building with sbt", file=sys.stderr)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        code, out = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stderr=log, text=True)
    if code != 0 or not out:
        with open(os.path.join(WORK, "build.log"), "a") as log:
            log.write(out or "")
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}", 1)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    classpath = lines[-1]
    if "classes" not in classpath.split(os.pathsep)[0]:
        fail("could not read the class path from sbt", 1)
    with open(state, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    return classpath


def main():
    # a plain SIGTERM would end Python without the cleanup in run_group,
    # leaving the driver JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seed < 0 or a.seconds < 1:
        fail("--seed must be >= 0 and --seconds >= 1")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")

    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    classpath = build(env)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else shutil.which("java")
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseTransparentHugePages",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--expected", os.path.join(BENCH, "expected", "queries_sf001.json"),
            "--work", run_dir]
    log_path = os.path.join(WORK, "run.log")
    t0 = time.monotonic()
    with open(log_path, "w") as log:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                              stdout=subprocess.PIPE, stderr=log, text=True)
    wall = time.monotonic() - t0
    for sub in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log_path}", 1)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if code != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        fail(f"driver exited with {code} and no result, see {log_path}", 1)

    with open(os.path.join(run_dir, "record.json")) as fh:
        record = json.load(fh)
    record["wall_s"] = wall
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    for name, m in sorted(result["metrics"].items()):
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"perfbench: notes {json.dumps(record.get('notes'))}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
