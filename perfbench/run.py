#!/usr/bin/env python3
"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the repository's main
classes and the benchmark (perfbench/build.sbt depends on the root build) and
records the runtime classpath; later runs reuse it until a source file changes.
Each run then starts one JVM on a Spark local[N] session with N = half the
usable cores, runs the workload (see perfbench/README.md), and prints the
workload's metrics; the last line of stdout is the JSON result. Every file the
run makes stays inside the checkout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("batch-queries", "stream-batch100")
RUN_LIMIT_S = 175

# Spark 4 on JDK 17 needs these opens outside spark-submit; same list as the
# root build's forked JVMs.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    want = stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          timeout=840, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f]
    cps = [l for l in lines if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("".join(l + "\n" for l in lines[-40:]))
        die(f"build failed (exit {rc}); full log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny", "sf01"), default="full",
                    help="input sizes: the benchmark's, the self-test's, or sf0.1 row counts")
    ap.add_argument("--plant-wrong", action="store_true", help="self-test: plant one wrong answer")
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        die(f"no graft sources under {ROOT}; run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    cp = classpath()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--size", a.size] +
           (["--plant-wrong"] if a.plant_wrong else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    try:
        rc = run_group(cmd, timeout=RUN_LIMIT_S if a.size != "sf01" else 900, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        die("benchmark JVM exceeded its time limit")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
