#!/usr/bin/env python3
"""Engine benchmark entry point.

Builds the program and the benchmark program from source (once per source
state), then runs one workload in one JVM on local[3]:

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 10 --trace 0

Run it from the repository root. `--trace 0` prints the end-to-end
metrics, `--trace 1` the per-layer metrics from a traced run. The last
line of standard output is the JSON result; result, profile and span
files go to perfbench/results/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("pip_tile", "geom_kernels", "polygon_join")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
# The parallel collector: under G1, repetitions of the same work kept
# getting faster for 10+ seconds (young-generation sizing), longer than a
# run can warm up; under the parallel collector they settle within seconds.
# C2 alone: under tiered compilation, kernel-heavy repetitions kept getting
# faster for 20+ seconds while C2 worked through its queue; with C2 alone
# the hot methods are compiled during set-up and timed repetitions are flat.
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:-TieredCompilation"]

# Spark on JDK 17 needs these opens when the session is created outside
# spark-submit; the same list the repository's build passes to its runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it. The whole group
    is killed if it outlives the timeout or if this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s", 3)
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out, err


def classpath():
    """Builds when the sources changed since the last build; returns the
    runtime classpath of the benchmark program."""
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "compile", "export Runtime/fullClasspath"]
    rc, out, err = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"build failed (sbt exit {rc})", 4)
    lines = [l for l in out.splitlines() if os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail("build did not report a classpath", 4)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("program sources not found: run from the root of a repository checkout")

    cp = classpath()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", RESULTS, "--work", WORK]
    rc, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    lines = out.rstrip("\n").splitlines()
    if rc != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {rc}", 5)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(out)
        fail("benchmark JVM did not end with a JSON result", 5)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
