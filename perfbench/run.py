#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine: pubsub and serve.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the engine from `src/main/scala` together with the benchmark
sources (sbt, offline) into `.bench_build/` when the sources changed,
then runs one workload in one JVM and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics (a traced JVM plus a
local[1] JVM for `parallel_speedup`). Exits non-zero without a result
line when the build or the run fails, or with `correct: false` when the
program's answers were wrong.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
# the Spark installation whose jars the engine compiles and runs against
SPARK_HOME = os.environ.get("SPARK_HOME")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ENGINE_SRC, "scala"), os.path.join(ENGINE_SRC, "resources"),
             os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout_s, log_path, **kw):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns the exit code (None on timeout)."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build():
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_path = os.path.join(BUILD, "build.stamp")
        stamp = source_stamp()
        if os.path.isdir(CLASSES) and os.path.exists(stamp_path):
            with open(stamp_path) as f:
                if f.read().strip() == stamp:
                    return True
        log("building engine + benchmark with sbt (offline)")
        env = dict(os.environ, SPARK_HOME=SPARK_HOME)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
        build_log = os.path.join(BUILD, "build.log")
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
                          "compile", "Compile/copyResources"],
                         BUILD_TIMEOUT_S, build_log, cwd=BENCH, env=env)
        if rc != 0:
            log("build failed:\n" + tail(build_log))
            return False
        with open(stamp_path, "w") as f:
            f.write(stamp)
        return True


def java_cmd(args, run_dir):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = sum((["--add-opens", f"java.base/{p}=ALL-UNNAMED"] for p in ADD_OPENS), [])
    return [java, *opens, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(SPARK_HOME, "jars", "*"),
            "graftbench.Main", *args]


def run_jvm(a, run_dir, master, trace, baseline, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "1" if trace else "0", "--master", master,
            "--run-dir", run_dir, "--out", out, "--baseline", "1" if baseline else "0"]
    jvm_log = os.path.join(run_dir, "jvm.log")
    rc = run_bounded(java_cmd(args, run_dir), max(1, deadline - time.time()),
                     jvm_log, cwd=ROOT)
    if rc != 0 or not os.path.exists(out):
        log(f"run failed (exit {rc}):\n" + tail(jvm_log))
        return None
    with open(out) as f:
        return json.load(f)


def declared_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pubsub", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run stops its JVM or sbt child too (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not SPARK_HOME or not os.path.isdir(os.path.join(SPARK_HOME, "jars")):
        log("no Spark installation found: set SPARK_HOME")
        return 2
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from the repository root")
        return 2
    if not build():
        return 2

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        res = run_jvm(a, os.path.join(run_dir, "main"), f"local[{cores}]",
                      bool(a.trace), False, deadline)
        if res is None:
            return 1
        if a.trace:
            base = run_jvm(a, os.path.join(run_dir, "local1"), "local[1]",
                           False, True, deadline)
            if base is None:
                return 1
            untraced = res.pop("untraced_items_per_s")
            res["metrics"]["parallel_speedup"]["value"] = untraced / base["items_per_s"]
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "main", "spans.json"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    declared = declared_metrics(bool(a.trace))
    if declared is not None:
        got = [(k, v["unit"]) for k, v in res["metrics"].items()]
        if sorted(got) != sorted(declared):
            log(f"metrics {sorted(got)} do not match BENCHMARK.json {sorted(declared)}")
            return 1
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
