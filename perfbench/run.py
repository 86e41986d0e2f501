#!/usr/bin/env python3
"""Module-chain benchmark of the graft Spark pipeline.

    python3 perfbench/run.py --workload bulk_sync|trickle_sync|azure_resync \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program (through
the repository's own sbt build, into target/) and the benchmark's Scala code
(into perfbench/target) from source; later runs reuse the build while the
sources are unchanged. graftbench.Main runs
in one JVM at local[nproc]; its last stdout line is the JSON result, which
this script checks and prints as its own last line. Working data lives under
perfbench/target/work and is removed at exit.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-build.stamp")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
WORKLOADS = ("bulk_sync", "trickle_sync", "azure_resync")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

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
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, as sorted paths relative to the root."""
    out = []
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += ["build.sbt", "project/build.properties",
            "perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark unless the last build matches."""
    want = stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    log("perfbench: building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: the CPUs this process may use)")
    a = ap.parse_args()

    for rel in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} is missing; run from a full checkout")
    build()
    t0 = time.monotonic()

    work = os.path.join(TARGET, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", os.path.join(work, "data"),
        "--cores", str(a.cores),
        "--trace-out", os.path.join(TARGET, "traces", f"{a.workload}-seed{a.seed}.jsonl"),
    ]
    if a.smoke:
        cmd.append("--smoke")
    logpath = os.path.join(TARGET, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(logpath), exist_ok=True)
    result = None
    try:
        with open(logpath, "w") as errf:
            # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both
            # inside the work directory
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=errf,
                                 stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t0)))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise SystemExit("perfbench: run timed out")
        lines = [l for l in out.splitlines() if l.strip()]
        if p.returncode == 0 and lines:
            result = json.loads(lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(logpath) as f:
            log("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: no result (exit code {p.returncode}); log in {logpath}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
