#!/usr/bin/env python3
"""Build and run one benchmark workload from the root of a checkout.

    python3 jbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine and the benchmark with sbt
(offline, from the build caches the toolchain ships with) and records the
runtime classpath under .bench_build/jbench; later runs reuse it until a
source or build file changes. Each run then starts one JVM (jbench.Main),
passes its output through, and prints the result JSON as the last line of
standard output. Everything the run writes stays under .bench_build/jbench.
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

WORKLOADS = ("allpairs", "bm25_wand")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
HEAP = "3g"
# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list the engine's own build passes to forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[jbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs(root):
    """Every file whose change calls for a rebuild, in a stable order."""
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "jbench", "build.sbt")]
    for top in ("project", os.path.join("jbench", "project")):
        d = os.path.join(root, top)
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties"))]
    for top in (os.path.join("src", "main"), os.path.join("jbench", "src", "main")):
        for dirpath, dirnames, names in os.walk(os.path.join(root, top)):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def stamp(root):
    h = hashlib.sha256()
    for f in build_inputs(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, capture):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = p.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s", 3)
    return p.returncode, out


def classpath(root, base, deadline):
    """The runtime classpath, building first when the sources changed."""
    cp_file = os.path.join(base, "classpath.txt")
    stamp_file = os.path.join(base, "stamp.txt")
    want = stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    sbt = shutil.which("sbt") or fail("sbt not found")
    code, out = run_bounded(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-XX:-UsePerfData", "export Runtime/fullClasspath"],
        os.path.join(root, "jbench"), deadline - time.time(), capture=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or "jbench" not in lines[-1]:
        sys.stderr.write(out or "")
        fail("build failed", 4)
    os.makedirs(base, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return lines[-1].strip(), True


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("jbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a checkout of the engine: {need} is missing")

    base = os.path.join(root, ".bench_build", "jbench")
    cp, built = classpath(root, base, t0 + BUILD_LIMIT_S)
    deadline = t0 + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    record = os.path.join(base, "records", f"{tag}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "jbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--record", record]
    try:
        code, out = run_bounded(cmd, root, deadline - time.time(), capture=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        fail(f"benchmark process exited with {code}", code or 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
