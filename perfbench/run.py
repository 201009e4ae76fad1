#!/usr/bin/env python3
"""Geocoding benchmark driver.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt (once per source
fingerprint, into .bench_build/), then runs one workload in a fresh JVM at
local[4]. The JVM generates the workload's inputs from the seed (cached per
workload, seed and generator fingerprint), sets up, measures for the given
seconds, checks its outputs, and prints one JSON result; this script relays
the JVM's log to stderr and prints the result as the last line of stdout.
With --trace 1 the result holds the per-layer metrics instead of the
end-to-end ones, and a span trace is written under .bench_build/traces/.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("crawl_bulk", "crawl_microbatch", "reverse_dense")
BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = ROOT / ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# generated inputs kept, most recently used first (about 20 MB each)
KEEP_INPUTS = 24

# the JVM flags Spark 4 needs on JDK 17 outside spark-submit (as in the
# root build's javaOptions)
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


def fingerprint(paths):
    h = hashlib.sha256()
    for base in paths:
        files = sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else [base]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def heap():
    """The tier-1 SPARK_DRIVER_MEM rule: half the host memory, 2g to 8g."""
    total_kb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 1024
    return f"{min(8, max(2, total_kb // 2097152))}g"


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compiles engine + benchmark unless the sources are unchanged; returns
    the runtime classpath."""
    fp = fingerprint([ROOT / "build.sbt", ROOT / "project" / "build.properties",
                      ROOT / "src" / "main", BENCH_DIR / "build.sbt",
                      BENCH_DIR / "project" / "build.properties", BENCH_DIR / "src" / "main"])
    WORK.mkdir(exist_ok=True)
    cp_file = WORK / "classpath.txt"
    fp_file = WORK / "build.fp"
    with open(WORK / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if cp_file.is_file() and fp_file.is_file() and fp_file.read_text() == fp:
            return cp_file.read_text().strip()
        log("building engine and benchmark with sbt (first run only)")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l, file=sys.stderr)
        if proc.returncode != 0 or not lines or "[" in lines[-1][:8]:
            raise RuntimeError(f"sbt build failed (exit {proc.returncode})")
        cp = lines[-1].strip()
        cp_file.write_text(cp)
        fp_file.write_text(fp)
        log(f"build done in {time.time() - t0:.1f} s")
        return cp


def gen_fingerprint():
    return fingerprint([BENCH_DIR / "src" / "main" / "scala" / "perfbench" / "Gen.scala",
                        ROOT / "src" / "main" / "scala" / "graft" / "fixtures" / "World.scala",
                        ROOT / "src" / "main" / "scala" / "graft" / "model" / "Schemas.scala"])


def prune_inputs(current):
    """Marks the current input tables as used and drops the least recently
    used ones beyond KEEP_INPUTS."""
    data = WORK / "data"
    if (data / current).is_dir():
        os.utime(data / current)
    if data.is_dir():
        old = sorted((d for d in data.iterdir() if d.is_dir()),
                     key=lambda d: d.stat().st_mtime, reverse=True)[KEEP_INPUTS:]
        for d in old:
            if d.name != current:
                shutil.rmtree(d, ignore_errors=True)


def run_jvm(cp, args):
    genfp = gen_fingerprint()
    prune_inputs(f"{args.workload}-s{args.seed}-{genfp}")
    argfile = WORK / "java.args"
    argfile.write_text(f'-cp "{cp}"\n')
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    # Spark's block and shuffle files, and JVM temp files, stay in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    cmd = [str(java), f"@{argfile}", f"-Xmx{heap()}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}",
           "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(WORK), "--genfp", genfp]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(1)
    # the JVM runs in its own process group: take it down with this script
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"benchmark JVM failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no engine sources next to {BENCH_DIR.name}/; run from a checkout of the repository")
        return 2
    try:
        cp = build()
        result = run_jvm(cp, args)
    except Exception as e:  # build or run failure: no result line
        log(f"error: {e}")
        return 1
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"malformed result: {result}")
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
