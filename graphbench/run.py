#!/usr/bin/env python3
"""Run one workload of the code-graph benchmark and print its result.

    python3 graphbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds
the graph database and the benchmark from source with sbt, then indexes
the corpus once into the v1 fixture that the serve, reindex and analytics
workloads start from. Both are kept under .bench_build/ and rebuilt when
any source file changes. The last line of standard output is the result
object; each run also writes a JSON artifact under .bench_out/.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "graphbench")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")

WORKLOADS = ("ingest", "serve", "reindex", "analytics")
SBT_TIMEOUT_S = 480
PREPARE_TIMEOUT_S = 200
RUN_TIMEOUT_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graphbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build and of the fixture."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties"),
              os.path.join(BENCH, "corpus", "stdlib-subset.tar.gz")]
    for tree in (os.path.join(ROOT, "src", "main"),
                 os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(tree):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def call(cmd, cwd, timeout, env=None, stdout=None):
    """Run a child in its own process group; kill the group on timeout or
    interruption and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def java_cmd(classpath, work, args):
    cmd = ["java"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graphbench.Main"]
    return cmd + args


def build():
    """Compile with sbt and prepare the v1 fixture, once per source stamp."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        stamp_file = os.path.join(BUILD, "stamp")
        cp_file = os.path.join(BUILD, "classpath")
        fixture = os.path.join(BUILD, "fixture")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read(), fixture
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        code, out = call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"], BENCH,
                         SBT_TIMEOUT_S, env, subprocess.PIPE)
        lines = out.decode(errors="replace").splitlines()
        sys.stderr.write("\n".join(lines[-20:-1]) + "\n")
        if code != 0 or not lines:
            fail(f"sbt build failed with code {code}")
        classpath = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(classpath)
        shutil.rmtree(fixture, ignore_errors=True)
        work = os.path.join(WORK, "prepare")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            code, _ = call(java_cmd(classpath, work, [
                "--mode", "prepare", "--bench-dir", BENCH, "--work", work,
                "--fixture", fixture]), work, PREPARE_TIMEOUT_S,
                stdout=sys.stderr)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            fail(f"fixture preparation failed with code {code}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return classpath, fixture


def main():
    # a terminated run stops its child JVM too (see call)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the corpus's expected graph in "
                         "expected.json instead of running a workload")
    a = ap.parse_args()
    if not a.record and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} not found: run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    classpath, fixture = build()
    mode = ["--mode", "record"] if a.record else [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]
    work = os.path.join(WORK, f"{a.workload or 'record'}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        code, _ = call(java_cmd(classpath, work, mode + [
            "--bench-dir", BENCH, "--work", work, "--fixture", fixture,
            "--out", OUT]), work, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
