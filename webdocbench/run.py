#!/usr/bin/env python3
"""Run one workload of the WebDoc benchmark and print its result.

    python3 webdocbench/run.py --workload <ingest|scan|lifecycle> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the harness and the program from source with sbt (offline) when the
sources changed since the last build, then runs the harness in one JVM with
Spark in local mode on every core of the host. Standard output carries only
results; the last line is one JSON object with the keys correct, attempted,
failed and metrics. Everything the run writes stays under webdocbench/target
and the per-run directory there is deleted at exit.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("ingest", "scan", "lifecycle")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 172       # hard stop for the JVM; the harness caps its timed loop at 130 s


def log(msg):
    print(f"webdocbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """every input of the build: the harness and the program's main sources"""
    roots = [os.path.join(HERE, "src"), os.path.join(REPO, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """compile with sbt unless target/ already holds a build of these sources;
    returns the JVM's classpath and its --add-opens arguments"""
    stamp = os.path.join(TARGET, "build.stamp")
    launch = [os.path.join(TARGET, n) for n in ("classpath.txt", "java-opens.txt")]
    want = digest()
    fresh = False
    if os.path.exists(stamp) and all(os.path.exists(f) for f in launch):
        with open(stamp) as fh:
            fresh = fh.read().strip() == want
    if not fresh:
        compile_sources(want, stamp, launch)
    with open(launch[0]) as fh:
        cp = fh.read().strip()
    with open(launch[1]) as fh:
        opens = fh.read().split()
    return cp, opens


def compile_sources(want, stamp, launch):
    """run sbt offline: compile, write the launch files, stamp the build"""
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building the harness and the program with sbt")
    t0 = time.time()
    # sbt's own output goes to standard error: standard output is for results
    rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         timeout=BUILD_TIMEOUT_S)
    if rc != 0 or not all(os.path.exists(f) for f in launch):
        raise SystemExit(f"webdocbench: build failed (sbt exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(want)
    log(f"built in {time.time() - t0:.0f} s")


def heap_gb():
    """a quarter of the host's memory, 2 to 8 GB: the host has no swap and is shared"""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(8, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        raise SystemExit("webdocbench: the program's sources (src/main/scala) are not here")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("webdocbench: SPARK_HOME must name a Spark install")
    cp, opens = build()

    run_dir = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    spans = os.path.join(TARGET, "traces", f"{a.workload}-{a.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + opens + [
        f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={run_dir}/tmp",
        "-cp", cp, "webdocbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--workdir", run_dir, "--spans", spans,
    ]
    # Spark's scratch space goes to the run directory on disk (not a RAM-backed tmpfs)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"webdocbench: run exceeded {RUN_TIMEOUT_S} s and was stopped")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"webdocbench: harness exited with {proc.returncode}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
