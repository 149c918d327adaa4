#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 cdcbench/run.py --workload cdc_sync --seed 1 --seconds 16 --trace 0
    python3 cdcbench/run.py --calibrate   # re-time rows, rewrite queries.tsv

Run from the repository root. The first run compiles the engine from
../src/main/scala with sbt (cdcbench/build.sbt) and stores the runtime
classpath; later runs reuse it until a source file changes. Each run gets
a fresh work directory under cdcbench/work/ that is removed afterwards.
Exits non-zero without printing a result if the build, the run or any
check fails.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "cdcbench.classpath")
WORKLOADS = ("cdc_sync", "queries")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark 4 on JDK 17 needs these when started outside spark-submit.
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
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith((".scala", ".java")):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile with sbt unless the stored classpath is newer than every
    source. Returns the classpath."""
    srcs = sorted(sources())
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(s) < stamp for s in srcs):
            with open(CLASSPATH) as f:
                return f.read().strip()
    # resolve from the local caches only
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "writeClasspath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(CLASSPATH) as f:
        return f.read().strip()


def commit():
    """The git commit if this is a clone, else a digest of the sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for s in sorted(sources()):
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return "src-" + h.hexdigest()[:16]


def launch(cp, work, args, timeout):
    """Run the JVM in its own process group; kill the group on timeout.
    Returns (exit code, stdout, stderr)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [a for p in ADD_OPENS
                    for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # the whole heap is faulted in at start, so no timed op pays
        # first-touch page zeroing
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
        "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dcdcbench.commit={commit()}",
        "-cp", cp, "cdcbench.Main", "--work", work] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        return None, out, err
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out, err


def result_line(out):
    """The last stdout line, if it is a well-formed result object."""
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    if not isinstance(r, dict) or set(r) != keys:
        return None
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calibrate", action="store_true",
                    help="time every candidate declared row, rewrite "
                         "cdcbench/queries.population.tsv and the row list")
    a = ap.parse_args()
    if not a.calibrate and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC)}; "
             "run from a checkout of the repository")
    if shutil.which("sbt") is None and not os.path.exists(CLASSPATH):
        fail("sbt is needed for the first build")

    cp = build()
    tag = "calibrate" if a.calibrate else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.calibrate:
            code, out, err = launch(cp, work, [
                "--calibrate", os.path.join(HERE, "queries.population.tsv"),
                "--rows", os.path.join(HERE, "queries.tsv")], 7200)
            sys.stdout.write(out)
            if code != 0:
                sys.stderr.write(err[-4000:])
                fail(f"calibration failed (exit {code})")
            return
        t0 = time.time()
        code, out, err = launch(cp, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)],
            RUN_TIMEOUT_S)
        line = result_line(out) if code == 0 else None
        if line is None:
            sys.stderr.write(err[-6000:])
            fail(f"run failed (exit {code}, {time.time() - t0:.0f} s)")
        body = [l for l in out.splitlines() if l.strip()][:-1]
        for l in body:
            if l.startswith("{"):
                print(l)
        print(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
