#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --record     # rewrite perfbench/expected.tsv

The first run in a checkout compiles the engine together with the benchmark
(sbt, offline) and caches the classpath under perfbench/.work; later runs
start the JVM directly. Everything a run writes stays under perfbench/.work
and is removed when the run ends, apart from the build and the traced
report. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.tsv")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 900
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list)
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


def build_inputs():
    """Every file the build reads, as sorted absolute paths."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles once per source state; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    fp = fingerprint(build_inputs())
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building (sbt compile) ...")
    # offline: resolve only from the local caches, as the root build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos}")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.writelines(l + "\n" for l in proc.stdout.splitlines()
                          if os.pathsep not in l)
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] build failed (exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines()
             if l and not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    if not lines:
        raise SystemExit("[perfbench] build printed no classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="run every workload query twice and rewrite "
                         "expected.tsv with its outputs")
    args = ap.parse_args()
    if not args.record and not args.workload:
        ap.error("--workload is required")

    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"[perfbench] engine sources not found at {ENGINE_SRC}")
    cp = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    scratch = os.path.join(run_dir, "spark")
    os.makedirs(tmp)
    os.makedirs(scratch)
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cores = len(os.sched_getaffinity(0))

    # a fixed heap keeps GC behaviour the same from run to run
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.artifact.isolation.enabled=false",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload or "", "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--data", DATA, "--expected", EXPECTED,
            "--result", result]
    if args.record:
        cmd += ["--record", EXPECTED]
    elif args.trace:
        cmd += ["--report", os.path.join(
            reports, f"{args.workload}-seed{args.seed}.json")]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
    # the engine may print to stdout; only the result line goes there
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RECORD_TIMEOUT_S if args.record else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("[perfbench] run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    try:
        if code != 0 or not (args.record or os.path.exists(result)):
            raise SystemExit(f"[perfbench] benchmark JVM failed (exit {code})")
        if args.record:
            return
        with open(result) as fh:
            line = fh.read().strip()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
