#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload etl_incremental|analytics \
        --seed N --seconds S --trace 0|1

Run it from the repository root. It compiles the program's sources
together with the harness in perfbench/src (sbt, offline; the classpath is
cached under perfbench/target and rebuilt when a source changes), then runs
the harness JVM and relays its output. The last line of standard output is
the result JSON; see perfbench/README.md for the workloads and metrics.
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
BENCH = os.path.relpath(HERE)
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
REQUIRED = [os.path.join(PROGRAM_SOURCES, "graft", "SparkEntry.scala"),
            os.path.join("tools", "check.py")]
CLASSPATH_FILE = os.path.join(BENCH, "target", "perfbench-classpath.txt")
WORKLOADS = ["etl_incremental", "analytics"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, limit_s, **kw):
    """Run `cmd`, killing its whole process group past `limit_s`."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    fp = fingerprint()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            cached_fp, _, cp = f.read().partition("\n")
        if cached_fp == fp and cp.strip():
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("[perfbench] building (sbt compile)", file=sys.stderr)
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})", 3)
    lines = [l for l in out.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath", 3)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    missing = [p for p in REQUIRED if not os.path.isfile(p)]
    if missing:
        fail("run from the repository root; missing " + ", ".join(missing))
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    cp = classpath()
    work = os.path.join(BENCH, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Djava.io.tmpdir={os.path.abspath(tmp)}"] + JVM_OPTS +
           ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", work])
    t0 = time.time()
    try:
        code, out = run_child(cmd, RUN_LIMIT_S, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S}s", 4)
    print(f"[perfbench] harness took {time.time() - t0:.1f}s", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    if lines:
        print("\n".join(lines))
    if code != 0:
        fail(f"harness exit {code}", code if code > 0 else 5)
    if not lines or not lines[-1].startswith("{"):
        fail("harness printed no result", 5)


if __name__ == "__main__":
    main()
