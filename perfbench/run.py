#!/usr/bin/env python3
"""Host-sized launcher for the engine's benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract --seed 42 --seconds 10 --trace 0

Builds the benchmark (the engine's sources plus the benchmark's code under
perfbench/src) with its own sbt project when the sources changed, sizes the
JVM to the host (cores from nproc, heap from /proc/meminfo) and runs one
workload. The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. Everything a run writes stays under
perfbench/: the build under perfbench/target, scratch (staged inputs, Spark
local dirs, temp files) under perfbench/work, deleted at the end, and the
traced run's spans under perfbench/traces.
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
BUILD_INPUTS = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]
STAMP = os.path.join(HERE, "target", "perfbench-build.txt")
WORKLOADS = ("extract", "curate", "ingest_graph")
RUN_LIMIT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def host_cores():
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    return int(subprocess.run(["nproc"], env=env, capture_output=True, text=True,
                              check=True).stdout.strip())


def host_heap():
    """Half the machine's memory in whole GiB, clamped to [2, 8]: the same
    formula the engine's test command uses for SPARK_DRIVER_MEM."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return f"{min(max(g, 2), 8)}g"
    return "2g"


def source_hash():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false"
                       f" -Dsbt.global.base={os.path.join(HERE, 'target', 'sbt-global')}"
                       f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
    log("building the benchmark with sbt")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    cp = [l for l in p.stdout.splitlines() if os.path.join(HERE, "target") in l and ":" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout)
        raise SystemExit(f"benchmark build failed (sbt exit {p.returncode})")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(f"{digest}\n{cp[-1].strip()}\n")
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the self-test (not a measurement)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}: "
                         "run from the root of a checkout")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("SPARK_HOME must point at a Spark 4 distribution")
    classpath = build()

    cores, heap = host_cores(), host_heap()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    trace_out = os.path.join(HERE, "traces",
                             f"{a.workload}-seed{a.seed}{'-tiny' if a.tiny else ''}.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--cores", str(cores), "--heap", heap, "--work", work,
              "--trace-out", trace_out, "--tiny", "1" if a.tiny else "0"])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    signal.signal(signal.SIGALRM, lambda *_: (log(f"run exceeded {RUN_LIMIT_S}s; killed"),
                                              stop(), sys.exit(3)))
    signal.alarm(RUN_LIMIT_S)
    last = ""
    try:
        for line in proc.stdout:
            print(line, end="", flush=True)
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        signal.alarm(0)
        stop()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise SystemExit(code)
    result = json.loads(last)
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit("malformed result line")


if __name__ == "__main__":
    main()
