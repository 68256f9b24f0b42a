#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the harness together with the
engine's sources (sbt, once per source state), then runs one workload in a
fresh JVM with a fixed heap. The last line of standard output is the result
JSON; the full per-run report (host facts, every op, counts, spans) is
written under .bench_build/reports/. See benchmark/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graft-bench.stamp")
WORKLOADS = ("batch_flagship", "stream_microbatch", "find_lookup")
HEAP = "4g"
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: engine sources, harness sources, build files."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def build(env):
    """Compile once per source state; later runs reuse the classes."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}: "
             "run from the root of a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "clean", "compile"]
    try:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, timeout=840).returncode
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def cpu_ticks():
    """Aggregate CPU ticks by state from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()[1:]
    except OSError:
        return {}
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, map(int, fields)))


def du_mb(path):
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(path) for n in ns) / 1e6


def annotate(report, before, after, work_mb):
    """Add what only the launcher sees to the run's report: the share of CPU
    ticks that went to iowait and to steal (time a virtual CPU waited for its
    host), so a slow run on a contended host can be told apart from a slow
    engine, and the size of the work dir (inputs and state) at exit."""
    if not os.path.exists(report):
        return
    with open(report) as fh:
        rep = json.load(fh)
    total = sum(after.values()) - sum(before.values())
    if before and after and total > 0:
        rep["host"]["cpu_shares_during_run"] = {
            k: (after[k] - before[k]) / total for k in ("steal", "iowait", "idle")}
    rep["work_dir_mb_at_exit"] = work_mb
    with open(report, "w") as fh:
        json.dump(rep, fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(env)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    reports = os.path.join(OUT, "reports")
    os.makedirs(reports, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cp = os.pathsep.join([CLASSES, os.path.join(env["SPARK_HOME"], "jars", "*")])
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    report = os.path.join(reports, f"{tag}.json")
    cmd += ["-cp", cp, "graft.bench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--report", report]
    if os.path.exists(report):
        os.remove(report)
    ticks = cpu_ticks()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    work_mb = None
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
        work_mb = du_mb(work)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {JVM_TIMEOUT_S} s", 4)
    annotate(report, ticks, cpu_ticks(), work_mb)
    sys.exit(rc)


if __name__ == "__main__":
    main()
