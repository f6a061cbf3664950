#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload sales_etl --seed 1 --seconds 25 --trace 0

The first call compiles the program (the repository's own sbt build) and the
benchmark package next to this file; later calls reuse the build until a
source file changes. The JVM runs with its scratch, Spark local dirs and
warehouse under `.bench_work/` in the checkout, which is removed when the run
ends. A traced run writes its span file under `.bench_out/`.

The last line of standard output is the result object; see SPEC.md.
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
CLASSPATH_FILE = os.path.join(TARGET, "perfbench.classpath")
STAMP_FILE = os.path.join(TARGET, "perfbench.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise
    return proc.returncode, out


def build():
    digest = source_hash()
    if os.path.isfile(CLASSPATH_FILE) and os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(TARGET, "tmp")  # sbt's scratch stays in the checkout
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx1536m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    t0 = time.time()
    try:
        with open(log, "wb") as fh:
            code, _ = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                stdout=fh, stderr=subprocess.STDOUT)
    except subprocess.TimeoutExpired:
        fail("build timed out; see " + log, 3)
    if code != 0 or not os.path.isfile(CLASSPATH_FILE):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("build failed; see " + log, 3)
    with open(STAMP_FILE, "w") as fh:
        fh.write(digest)
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (expected build.sbt "
             "and src/main/scala in %s)" % ROOT, 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH", 2)
    build()

    with open(CLASSPATH_FILE) as fh:
        classpath = fh.read().strip()
    work = os.path.join(ROOT, ".bench_work",
                        "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out_dir]
    try:
        # Spark's scratch (shuffle files, spills) stays in the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                              stdin=subprocess.DEVNULL, stdout=subprocess.PIPE)
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s" % RUN_TIMEOUT_S, 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    text = out.decode("utf-8", "replace")
    lines = [l for l in text.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(text)
        fail("run failed (exit %d)" % code, code or 1)
    sys.stdout.write(text if text.endswith("\n") else text + "\n")


if __name__ == "__main__":
    main()
