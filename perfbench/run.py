#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this source tree.

    python3 perfbench/run.py --workload <cdc_dirty|cdc_fanout|catalogue> \
        --seed <n> --seconds <s> --trace <0|1>

On first use (and whenever a source file changes) it compiles the
engine's sources together with the harness in perfbench/src with sbt,
and generates the data sets (the catalogue's tables and the `events`
table the CDC feed is derived from); both land in git-ignored
directories under perfbench/. Each run then starts one JVM directly
(no sbt), relays the harness's `[perfbench]` lines and ends stdout with
the harness's JSON result line. Spark's own log goes to
perfbench/.work/logs/. Exits non-zero, without a result line, when the
build, the data set or the run fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
BUILD_STAMP = os.path.join(TARGET, "perfbench-build.sha256")
ENGINE_SRC = os.path.join(ROOT, "src", "main")

BUILD_TIMEOUT_S = 700
PREPARE_TIMEOUT_S = 150
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Compile hot methods after a tenth of the usual invocations: a run's
# JVM lives about a minute, and with the default thresholds the
# driver-side planning code is still being compiled while the measured
# micro-batches run, so their latency drifts down through the window.
JIT = "-XX:CompileThresholdScaling=0.1"

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every file the build reads from this tree."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{os.path.basename(cmd[0])} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(digest):
    if os.path.exists(BUILD_STAMP) and open(BUILD_STAMP).read() == digest \
            and os.path.exists(CLASSPATH):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log = os.path.join(WORK, "logs", "build.log")
    with open(log, "w") as fh:
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "writeClasspath"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
                          stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {rc}); see {log}")
    with open(BUILD_STAMP, "w") as fh:
        fh.write(digest)


def java_cmd(args):
    cp = open(CLASSPATH).read().strip()
    return ["java", f"-Xmx{HEAP}", JIT] + \
        [a for o in JVM_OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")] + [
        f"-Djava.io.tmpdir={WORK}/tmp",
        f"-Dderby.system.home={WORK}",
        f"-Dderby.stream.error.file={WORK}/logs/derby.log",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main", "--work", WORK] + args


def java_env():
    """Keep Spark's scratch space inside the work directory."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    return env


def prepare(digest):
    """Generate the data sets once per build."""
    stamp = os.path.join(WORK, "data", "prepared.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log = os.path.join(WORK, "logs", "prepare.log")
    with open(log, "w") as fh:
        rc, _ = run_group(java_cmd(["--prepare"]), PREPARE_TIMEOUT_S, cwd=ROOT, env=java_env(),
                          stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"data set generation failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_dirty", "cdc_fanout", "catalogue"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb the expected state, to show the correctness check fails")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail(f"engine sources not found at {ENGINE_SRC}")
    for d in ("tmp", "logs", "data"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    digest = source_digest()
    build(digest)
    prepare(digest)

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.corrupt_expected:
        args += ["--corrupt-expected"]
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc, out = run_group(java_cmd(args), RUN_TIMEOUT_S, cwd=ROOT, env=java_env(),
                            stdout=subprocess.PIPE,
                            stderr=fh, stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    print(f"[perfbench] run took {time.time() - t0:.1f} s; Spark log in {log}")
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if rc != 0 or not isinstance(result, dict):
        fail(f"run failed (exit {rc}); see {log}")
    print(lines[-1])


if __name__ == "__main__":
    main()
