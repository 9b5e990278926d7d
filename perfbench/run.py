"""Benchmark command: builds the program and the benchmark from source (once
per source change), then runs one workload in a fresh JVM and prints its
result as the last line of standard output.

    python3 perfbench/run.py --workload release_serve --seed 1 \
        --seconds 20 --trace 0

Workloads: release_serve, corpus_curate (see README.md).
With --trace 0 the result carries the end-to-end metrics; with --trace 1
the per-layer metrics of a traced run.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("release_serve", "corpus_curate")
HEAP = "3g"  # fixed: -Xms equals -Xmx
JVM_TIMEOUT_S = 175

# Spark on JDK 17 needs these when the session is built outside
# spark-submit (same list as org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.stderr.write("perfbench: build failed: %s\n" % e)
        return 2

    work = os.path.join(build.BUILD, "work", "%s-%d-%d" % (
        args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cpus = min(2, os.cpu_count() or 1)
    # two Spark cores and two GC and JIT threads: a run needs two of the
    # host's cores, not all of them, so a busy neighbour moves it less
    cmd = [build.java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
           "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2",
           "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + work, "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--work", work, "--out", out,
            "--found", os.path.join(build.HERE, "found", "near_duplicate_miss.jsonl")]
    # a terminated benchmark stops its JVM too (the finally in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = run_jvm(cmd, work)
        if code is None:
            return 3
        if code != 0 or not os.path.exists(out):
            return 4
        with open(out) as fh:
            result = json.load(fh)
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(build.BUILD, "spans-%s-%d.jsonl"
                                            % (args.workload, args.seed)))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_jvm(cmd, cwd):
    """Run the JVM to its end or the time limit; it never outlives this
    call. Returns its exit code, or None when it ran out of time."""
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=cwd)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write("perfbench: run exceeded %d s\n" % JVM_TIMEOUT_S)
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    sys.stderr.write("perfbench: jvm exited %d after %.1f s\n"
                     % (code, time.time() - t0))
    return code


if __name__ == "__main__":
    sys.exit(main())
