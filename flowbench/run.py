#!/usr/bin/env python3
"""Flow-path benchmark launcher.

    python3 flowbench/run.py --workload nf-replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) and caches the runtime classpath
under flowbench/target; later runs start the JVM directly. Everything a
run writes stays under flowbench/target. The last line of standard output
is the JSON result.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "flowbench.classpath")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"flowbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    """Newest mtime over every input of the build."""
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files.extend(os.path.join(d, n) for n in names)
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile engine + benchmark; cache the runtime classpath."""
    if (os.path.isfile(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= newest_source_mtime()):
        with open(CLASSPATH) as f:
            return f.read().strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-error", "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in proc.stdout.splitlines()]
    cp = [ln for ln in lines if ".jar" in ln and os.pathsep in ln
          and " " not in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    print(f"flowbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {BENCH}; run from a full checkout")
    cp = build()

    work = os.path.join(TARGET, "work", f"run-{os.getpid()}")
    logs = os.path.join(TARGET, "logs")
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    # a fixed-size heap: no resizing that differs from run to run
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dflowbench.work={work}",
              f"-Dflowbench.traces={TARGET}/traces",
              "-cp", cp, "flowbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace])
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    env = dict(os.environ, SPARK_DRIVER_MEM=heap)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL,
                                text=True, env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print(f"flowbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed (exit {proc.returncode}); log: {log_path}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
