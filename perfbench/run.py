#!/usr/bin/env python3
"""Serving and ingest benchmark of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload read_serve --seed 1 --seconds 10 --trace 0

Workloads: read_serve, ingest_cascade (see BENCHMARK.json).
The first run builds the benchmark package (perfbench/build.sbt), which
compiles the engine from ../src/main/scala together with the benchmark
program in perfbench/src; later runs reuse the build until a source file
changes. The program prints one row per workload and, as the last line of
standard output, a JSON summary; full records go to perfbench/out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark on JDK 17 needs these when a session is created outside
# spark-submit; the same list the root build passes to forked runs.
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_bounded(cmd, cwd, env, limit_s, stdout):
    """Runs cmd in its own process group; kills the group after limit_s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit_s} s and was stopped")
    return p.returncode, out


def build():
    sources = [os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
               os.path.join(BENCH, "project", "build.properties"),
               os.path.join(ROOT, "src", "main")]
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources):
        return
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_bounded(cmd, BENCH, env, BUILD_LIMIT_S, subprocess.PIPE)
    lines = out.decode("utf-8", "replace").splitlines()
    cp = [l for l in lines if os.path.join(TARGET, "scala-2.13", "classes") in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["read_serve", "ingest_cascade"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found beside perfbench/")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    out = os.path.join(BENCH, "out")
    tmp = os.path.join(out, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap from the start, so the timed phase does not run while
    # the collector is still growing it
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", out]
    try:
        code, stdout = run_bounded(cmd, ROOT, dict(os.environ), RUN_LIMIT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = stdout.decode("utf-8", "replace").rstrip("\n").splitlines()
    if code != 0 or not lines:
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        fail(f"benchmark program exited with code {code}")
    try:
        summary = json.loads(lines[-1])
        assert set(summary) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stdout.write("\n".join(lines) + "\n")
        fail("benchmark program printed no summary line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
