#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload kg_backfill --seed 1 --seconds 20 --trace 0

Builds the benchmark (perfbench/build.sbt compiles the program's sources
beside the harness) on first use, runs `perfbench.Main` in one JVM, and
prints `{"correct", "attempted", "failed", "metrics"}`. Exits 1 when an
output check fails or the run breaks, 2 on bad arguments or a checkout
without the program's sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("kg_backfill", "serve")
BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
JAVA_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
ALU_N = 1_000_000

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = ["perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose bin/ on PATH holds spark-submit next to a
    jars/ directory (wrappers such as a pip-installed spark-submit have none)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            home = os.path.dirname(os.path.realpath(d))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    fail("set SPARK_HOME: the build needs Spark's jars")


def build():
    """Compile once per source state; return the runtime classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "perfbench.stamp")
    cp_file = os.path.join(BUILD_DIR, "perfbench.classpath")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as f:
                    return f.read()
    # no JVM of the build may write perf data outside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "perfbench-build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd="perfbench", env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"build timed out, see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed ({code}), see {log}")
    cp = [l for l in lines if "perfbench/target" in l and ":" in l and not l.startswith("[")]
    if not cp:
        fail(f"build printed no classpath, see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1].strip()


def alu_lap():
    """Wall seconds of a fixed pure-Python loop pinned to one core."""
    code = f"import time\nt=time.perf_counter()\nx=0\nfor i in range({ALU_N}): x += i*i%7\nprint(time.perf_counter()-t)"
    core = str(min(os.sched_getaffinity(0)))
    cmd = [sys.executable, "-c", code]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", core] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=60)
    return round(float(out.stdout.strip()), 4)


def steal_ticks():
    """Host steal time so far, in clock ticks (/proc/stat, all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--golden", help="graft.Verify output dir to fingerprint into "
                    "perfbench/golden (maintenance; prints no result)")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}", 2)
    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile("perfbench/build.sbt"):
        fail("run from the root of a checkout that holds the program's sources", 2)

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    host = {"nproc": cpus, "mem_total_kb": mem_total_kb(), "alu_lap_before_s": alu_lap()}
    steal0 = steal_ticks()
    for d in ("tables", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK_DIR, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK_DIR, "tmp"), exist_ok=True)
    heap_gb = max(2, min(4, mem_total_kb() // (4 * 1024 * 1024)))
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, f"-Xmx{heap_gb}g", "-XX:ReservedCodeCacheSize=1g",
           "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(WORK_DIR, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(cpus), "--work", WORK_DIR]
    if a.golden:
        sys.exit(subprocess.run(cmd + ["--golden", a.golden], stdin=subprocess.DEVNULL).returncode)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload {a.workload} exceeded {JAVA_TIMEOUT_S} s")
    for d in ("tables", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK_DIR, d), ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.startswith("# "):
            print(line)
    if result is None:
        fail(f"workload {a.workload} printed no result (exit {proc.returncode})")
    host["steal_s"] = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    host["alu_lap_after_s"] = alu_lap()
    print("# host " + json.dumps(host))
    print("# info " + json.dumps(result["info"]))
    correct = bool(result["correct"]) and proc.returncode == 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
