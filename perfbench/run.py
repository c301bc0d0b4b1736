#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload <maintain|ann> --seed <n>
        --seconds <s> --trace <0|1> [--requests <n>]

Run from the root of a checkout. The first run builds the harness together
with graft's sources (perfbench/build.sbt, sbt offline); later runs reuse the
build until a source file changes. The harness runs in one JVM and prints one
JSON result as the last line of stdout; everything else goes to stderr.
Scratch data lives under .bench_build/work and is removed after the run;
per-run reports (and span logs of traced runs) stay in .bench_build/runs.
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
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "perfbench.stamp")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
WORKLOADS = ("maintain", "ann")
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [GRAFT_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, env=None, stdout=None):
    """Run cmd in its own process group; kill the group if it outlives limit_s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {limit_s:.0f} s: {' '.join(cmd[:3])} ...")
        return None, None
    return p.returncode, out


def build(limit_s):
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return True
    log("building the harness and graft from source")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_bounded(cmd, HERE, limit_s, env=env, stdout=subprocess.PIPE)
    if code != 0:
        if out:
            sys.stderr.write(out.decode(errors="replace"))
        log(f"build failed (exit {code})")
        return False
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)
    return True


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--requests", type=int, help="fixed request count instead of --seconds")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(GRAFT_SRC, "graft", "core", "MatDb.scala")):
        log(f"graft sources not found under {GRAFT_SRC}; run from a full checkout")
        return 2
    first = not os.path.exists(CLASSPATH)
    if not build((FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S) - (time.monotonic() - t0)):
        return 2
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work-dir", work, "--out-dir", os.path.join(BUILD, "runs")]
    if a.requests is not None:
        cmd += ["--requests", str(a.requests)]
    limit = (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S) - (time.monotonic() - t0)
    try:
        code, out = run_bounded(cmd, ROOT, limit, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        return 3
    lines = out.decode(errors="replace").splitlines()
    result = [l for l in lines if l.startswith("{")]
    sys.stderr.write("".join(l + "\n" for l in lines if l not in result[-1:]))
    if code != 0 or not result:
        log(f"harness exited {code}")
        if result:
            print(result[-1], flush=True)
        return code or 4
    print(result[-1], flush=True)
    log(f"run took {time.monotonic() - t0:.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
