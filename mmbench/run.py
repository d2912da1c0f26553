#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its metrics.

Usage, from the repository root:
    python3 mmbench/run.py --workload medallion_loop --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program and the benchmark from
source with sbt (offline), runs the Mars generator's self-check, and keeps
the classpath in .bench_build/; later runs reuse it until a source or build
file changes. The measurement itself runs in one JVM (mmbench.Main); its
last line of output, a JSON object, is the last line this script prints. Everything a run writes stays under
.bench_build/ in the checkout, and the run's own inputs and warehouses are
deleted when it ends.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"mmbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Every file the build reads, for the build stamp."""
    yield os.path.join(root, "build.sbt")
    for top in ("project", "src/main", "mmbench"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = [x for x in dirs if x not in ("target", ".bsp", "tools")
                       and not (x == "project" and os.path.basename(d) == "project")]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties", ".json")):
                    yield os.path.join(d, f)


def stamp(root):
    h = hashlib.sha256()
    for p in sorted(sources(root)):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Builds with sbt once per source state; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the program")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    want = stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export mmbench/Runtime/fullClasspath"],
                           cwd=BENCH, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "mmbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    check = subprocess.run(java_command(root, cp, os.path.join(out, "selfcheck")) + ["--selfcheck"],
                           cwd=root, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    shutil.rmtree(os.path.join(out, "selfcheck"), ignore_errors=True)
    if check.returncode != 0:
        sys.stderr.write(check.stdout + check.stderr[-4000:])
        fail("the Mars generator failed its self-check")
    # tables made once per build by the benchmark (see QueryBatch.prepare)
    shutil.rmtree(os.path.join(out, "fixed-tables"), ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def java_command(root, cp, work):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC",
            "-cp", cp, "mmbench.Main", "--work", work]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["medallion_loop", "query_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    cp = build(root)
    work = os.path.join(root, ".bench_build", f"work-{a.workload}-{a.seed}-{os.getpid()}")
    cmd = java_command(root, cp, work) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        fail(f"the measurement exited with code {proc.returncode} and no result")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
