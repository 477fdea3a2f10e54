#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and relays its output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine's
sources together with the benchmark (sbt, offline) into perfbench/target;
later runs reuse the build while the sources are unchanged. Everything a
run writes stays under perfbench/ (build output, generated inputs,
warehouses, Spark scratch, traces). The last stdout line is the result
object; the exit code is non-zero when the build, the run or its output
is broken.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("etl_stream", "graph_bsp", "corpus_retrieval")
RUN_LIMIT_S = 175      # one measured run, build excluded
BUILD_LIMIT_S = 700    # the first run in a checkout also builds: 700 + 175 < 900
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build: the engine's main sources and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jar directory the engine's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m is None:
        fail("the engine's build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def run_group(cmd, limit_s, env=None, cwd=None, relay=False):
    """Runs cmd in its own process group; kills the whole group on timeout.
    Returns (exit code, stdout lines when relayed)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if relay else sys.stderr,
                            text=True)
    lines = []
    deadline = time.monotonic() + limit_s

    def on_alarm(*_):
        raise TimeoutError
    signal.signal(signal.SIGALRM, on_alarm)
    signal.setitimer(signal.ITIMER_REAL, max(1.0, limit_s))
    try:
        if relay:
            for line in proc.stdout:
                line = line.rstrip("\n")
                lines.append(line)
                print(line, flush=True)
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except (TimeoutError, subprocess.TimeoutExpired):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {limit_s:.0f} s and was stopped", 124)
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
    return proc.returncode, lines


def build():
    """Compiles with sbt unless the recorded source digest still matches."""
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                        BUILD_LIMIT_S, env=env, cwd=BENCH)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {code})", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as c:
        return c.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    # the benchmark builds the engine from the checkout it sits in
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail(f"no graft sources under {ROOT}; run from a checkout of the repository")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    classpath = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed heap, touched and backed by huge pages before anything is
    # timed: no page fault or heap resize lands inside a timed unit
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
           "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", WORK]
    code, lines = run_group(cmd, RUN_LIMIT_S, cwd=ROOT, relay=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        fail(f"benchmark exited with code {code}", code)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail("the benchmark's last output line is not a result object", 4)


if __name__ == "__main__":
    main()
