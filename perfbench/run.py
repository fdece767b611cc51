#!/usr/bin/env python3
"""Benchmark launcher.

Usage, from the repository root:

    python3 perfbench/run.py --workload sync_small_files --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source with sbt when the build is
missing or older than the sources, runs one JVM at local[nproc] for the
workload, streams its progress lines to stderr, and prints the harness's
result JSON as the last line of stdout. All inputs, outputs and Spark
scratch space live under `.bench_work/` in the repository and are removed
when the run ends.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target", "perfbench-build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("sync_small_files", "curation_chain")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# program's build.sbt).
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


def sources_mtime():
    newest = 0.0
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, fs in os.walk(top):
            for f in fs:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and kills the whole group if it
    outlives `timeout` or this launcher is interrupted or terminated."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{cmd[0]} exceeded {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out or "", err or ""


def build():
    """Compile with sbt; cache the runtime classpath. Returns it."""
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    log("building program and harness with sbt")
    t0 = time.time()
    opts = os.environ.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false"
    env = dict(os.environ, SBT_OPTS=opts.strip())
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and ".jar" in l), None)
    if code != 0 or cp is None:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit(f"sbt build failed (exit {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a terminated launcher still stops the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the program under test is built from the sources beside the harness
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("program sources not found next to perfbench/")

    cp = build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", "-Xmx3g",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", os.path.join(work, "data")])
    try:
        code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                 stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-2000:])
        raise SystemExit(f"harness failed (exit {code})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
