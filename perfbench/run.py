#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the library sources
together with the harness in perfbench/ (sbt, about a minute); later runs
reuse the build while no source changed. The harness prints a `detail` record
and then, as the last line of stdout, the result JSON. Exits non-zero, with
no result line, if the library sources are missing or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, "work")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every source the build compiles: a change forces a rebuild."""
    h = hashlib.sha1()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for d, _, names in os.walk(LIB):
        files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for d, _, names in os.walk(os.path.join(BENCH, "src", "main")):
        files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    fp = fingerprint()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved_fp, cp = f.read().split("\n", 1)
        if saved_fp == fp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {proc.returncode})")
    cp = [l for l in lines if "perfbench/target" in l and ":" in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(fp + "\n" + cp[-1].strip())
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB, "graft")):
        fail(f"library sources not found under {LIB}; run from a full checkout")
    cp = build()
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    if proc.returncode != 0:
        fail(f"run failed (exit {proc.returncode})", proc.returncode or 1)
    lines = out.rstrip("\n").splitlines()
    if not lines or not lines[-1].startswith("{"):
        fail("run printed no result line", 4)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
