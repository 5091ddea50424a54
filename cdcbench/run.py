#!/usr/bin/env python3
"""CDC benchmark runner.

Usage (from the repository root):

    python3 cdcbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt (once per source
state; the classpath is cached under cdcbench/target), runs one workload in a
fresh JVM and prints the JVM's report followed, as the last line, by one JSON
object {"correct", "attempted", "failed", "metrics"}. Exits 1 when a
correctness check failed and 2 when the run could not complete.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
WORKLOADS = ("trickle", "docs")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads, so a source change rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    digest = source_digest()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            cached = fh.read().split("\n")
        if len(cached) >= 2 and cached[0] == digest:
            return cached[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export cdcbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        out.write(p.stdout)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed, see {log}")
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(digest + "\n" + lines[-1] + "\n")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine sources (build.sbt, src/main/scala) are not beside cdcbench/")
    t_start = time.monotonic()
    classpath = build()
    budget = RUN_TIMEOUT_S if time.monotonic() - t_start < 60 else BUILD_TIMEOUT_S
    deadline = t_start + budget

    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logs = os.path.join(TARGET, "logs")
    os.makedirs(logs, exist_ok=True)
    trace_file = os.path.join(TARGET, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
        "-XX:ConcGCThreads=1", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", classpath, "cdcbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--trace-file", trace_file]
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    result = None
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run timed out, see {log}")
    shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = line[len("RESULT "):]
        else:
            print(line)
    if proc.returncode not in (0, 1) or result is None:
        fail(f"run failed (exit {proc.returncode}), see {log}")
    sys.stdout.flush()
    print(result)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
