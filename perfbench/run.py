#!/usr/bin/env python3
"""Pipeline benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 10 --trace 0 --cpus 1
    python3 perfbench/run.py --selftest

The first run builds the engine from the checkout's sources together with
the benchmark (an sbt build of its own in this directory) and caches the
classpath under the build directory; later runs rebuild only when a source
file changed. Each run starts one JVM with a local Spark session of
`--cpus` cores (default: all) and prints, as its last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`. The exit code
is 0 only when every correctness gate passed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["ingest_backlog", "ingest_trickle", "archive_read"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked JVMs)
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


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(os.path.abspath(d), "perfbench")


def fingerprint():
    """Hash of every input of the build: names, sizes and mtimes."""
    h = hashlib.sha1()
    inputs = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"]
    for top in ["src/main", "perfbench/src"]:
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            inputs += [os.path.relpath(os.path.join(dirpath, f), ROOT) for f in sorted(filenames)]
    for rel in inputs:
        p = os.path.join(ROOT, rel)
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(bdir):
    """Compiles engine and benchmark; returns the runtime classpath."""
    cp_file = os.path.join(bdir, "classpath.txt")
    fp_file = os.path.join(bdir, "fingerprint.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: build timed out")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1]
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fingerprint())
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count(),
                    help="cores of the local Spark session (default: all)")
    ap.add_argument("--selftest", action="store_true",
                    help="show that every correctness gate fires on perturbed data")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    for need in ["build.sbt", "src/main/scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found; run from the root of a checkout of the engine")

    bdir = build_dir()
    cp = build(bdir)
    work = os.path.join(bdir, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ["tmp", "spark-local"]:
        os.makedirs(os.path.join(work, d))
    cmd = [java_bin(), f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false",
        # keep the status store's history small: it is held on the heap and
        # would otherwise grow with the number of rounds a run completes
        "-Dspark.sql.ui.retainedExecutions=20",
        "-Dspark.ui.retainedJobs=20",
        "-Dspark.ui.retainedStages=20",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main", "--work", work, "--cpus", str(a.cpus)]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(a.cpus)
    # Spark would put its scratch space there instead of inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    try:
        p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                           stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if not lines:
        sys.exit(f"perfbench: no result (exit code {p.returncode})")
    for l in lines:
        print(l)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
