#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: monthly_load, serving (see perfbench/README.md).
The first run builds the engine and the benchmark from source with sbt
and prepares every workload's seed-independent inputs; later runs reuse
both while no source file has changed. The last
line of standard output is one JSON object: correct, attempted, failed
and metrics. Exits non-zero, without printing a result, when the engine's
sources are absent or the run fails.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")
# seed-independent inputs (the monthly history lake, the mart lake, the
# neardup tables), kept across runs of one build and keyed by its source digest
CACHE = os.path.join(BENCH, "cache")
PREPARED = {"monthly_load": ("monthly_history",),
            "serving": ("mart_lake", "mart_reference", "neardup_tables")}
WORKLOADS = ("monthly_load", "serving")
RUN_LIMIT_S = 170
PREPARE_LIMIT_S = 600

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build: engine and benchmark sources and
    the benchmark's build definition."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine and benchmark (sbt writeClasspath)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {p.returncode})")
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def java_cmd(main_args, work):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, "graft.perfbench.Main"] + main_args)


def run_java(cmd, timeout=RUN_LIMIT_S):
    """Run the JVM in its own process group; kill the group on timeout or
    interrupt. Returns (exit code, stdout lines)."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out.splitlines()


def declared_metrics(trace):
    """Name -> unit of the metrics BENCHMARK.json declares for a run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    # a TERM from whoever started us unwinds through run_java, which kills
    # the JVM's process group before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
            "run from a checkout of the repository")
        sys.exit(2)
    digest = source_digest()
    build(digest)
    cache = os.path.join(CACHE, digest[:16])
    if os.path.isdir(CACHE):
        for d in os.listdir(CACHE):
            if os.path.join(CACHE, d) != cache:
                shutil.rmtree(os.path.join(CACHE, d), ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    # per-process scratch, so runs started side by side do not collide
    work = os.path.join(BENCH, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    def args(workload):
        return ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--bench", BENCH, "--cache", cache,
                "--out", os.path.join(BENCH, "out")]
    try:
        # every workload's inputs, so that only the run that builds pays
        # for preparing them
        for w in WORKLOADS:
            missing = [c for c in PREPARED.get(w, ()) if not os.path.isdir(os.path.join(cache, c))]
            if missing:
                log(f"preparing {', '.join(missing)} (once per build)")
                code, _ = run_java(java_cmd(args(w) + ["--prepare", "1"], work), PREPARE_LIMIT_S)
                if code != 0:
                    log(f"preparing failed (exit {code})")
                    sys.exit(5)
        code, lines = run_java(java_cmd(args(a.workload), work))
    except subprocess.TimeoutExpired:
        log("a benchmark JVM exceeded its time limit; killed")
        sys.exit(4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        log(f"benchmark JVM failed (exit {code})")
        sys.exit(5)
    measured = {k: v["unit"] for k, v in json.loads(lines[-1])["metrics"].items()}
    if measured != declared_metrics(a.trace):
        log("the run's metrics and units differ from BENCHMARK.json: "
            f"{sorted(set(measured.items()) ^ set(declared_metrics(a.trace).items()))}")
        sys.exit(6)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
