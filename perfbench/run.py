#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload sync-burst --seed 1 --seconds 10 --trace 0

Workloads: sync-burst, sync-trickle, analytics-sf0.1. The last line of
standard output is the one-line JSON result. The first run in a checkout
builds the harness (an sbt build in this directory that compiles the
repository's sources) and records the resulting classpath; later runs
start the JVM directly. A rebuild happens whenever a source file is newer
than that record.
"""
import argparse
import os
import signal
import subprocess
import sys

HOME = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HOME)
CLASSPATH = os.path.join(HOME, "target", "perfbench-classpath.txt")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "src", "test"),
                os.path.join(HOME, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith((".scala", ".java")):
                    yield os.path.join(d, f)
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HOME, "build.sbt")):
        yield f


def run_child(cmd, cwd, timeout, stdout):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return
    log = os.path.join(HOME, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Compile/fullClasspath"], HOME, BUILD_TIMEOUT_S, out)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"not in a checkout of the repository: {need} is missing")
    build()
    cp = open(CLASSPATH).read().strip()
    work = os.path.join(HOME, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx4g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--home", HOME])
    sys.stdout.flush()
    rc = run_child(cmd, ROOT, RUN_TIMEOUT_S, None)
    if rc != 0:
        fail(f"workload {args.workload} exited with {rc}")


if __name__ == "__main__":
    main()
