#!/usr/bin/env python3
"""Run one workload of the KG benchmark.

    python3 kgbench/run.py --workload bulk_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the benchmark (an sbt
build in this directory that compiles the engine sources under
../src/main/scala together with the harness) and records the runtime
classpath; later runs start the JVM directly. The last line of standard
output is the result object; the exit code is non-zero when the build
fails, an answer is wrong, or the run exceeds its time limit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "classpath.txt")
WORK = os.path.join(HERE, "work")
SEED_STORE = os.path.join(WORK, "seed-store")
# class-data-sharing archive of the classes the seed-store build loads:
# maps Spark's classes into each run's JVM instead of loading them again
CDS_ARCHIVE = os.path.join(HERE, "target", "kgbench.jsa")
WORKLOADS = ("bulk_ingest", "incremental_lsh")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            if os.path.basename(d) == "target":
                continue
            files.extend(os.path.join(d, n) for n in names)
    for f in files:
        try:
            newest = max(newest, os.path.getmtime(f))
        except OSError:
            pass
    return newest


def build():
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime():
        return
    log("building the benchmark (sbt writeClasspath)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        log("build failed")
        sys.exit(3)
    log(f"built in {time.time() - t0:.1f} s")


def java_cmd(work, args, jvm_opts=()):
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()
    home = os.environ.get("JAVA_HOME")
    cmd = [os.path.join(home, "bin", "java") if home else "java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # JVM log lines go to stderr: stdout carries only the result
    return cmd + ["-Xmx3g", "-Xlog:disable", "-Xlog:all=warning:stderr", *jvm_opts,
                  f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  "-cp", classpath, "kgbench.Main", "--work", work] + args


def run_java(work, args, limit_s, jvm_opts=()):
    """Runs the benchmark JVM in `work` (created fresh, removed after);
    returns (exit code, stdout), or exits if the run exceeds `limit_s`."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(java_cmd(work, args, jvm_opts), stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def stop(signum, _frame):  # a terminated run takes its JVM with it
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {limit_s} s")
        out = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        sys.exit(4)
    return proc.returncode, out


def seed_store():
    """The incremental workload's seed store, built once per build."""
    if os.path.isdir(SEED_STORE) and os.path.exists(CDS_ARCHIVE) and \
            os.path.getmtime(CDS_ARCHIVE) >= os.path.getmtime(CLASSPATH_FILE):
        return
    shutil.rmtree(SEED_STORE, ignore_errors=True)
    log("building the incremental workload's seed store")
    tmp = SEED_STORE + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    archive = CDS_ARCHIVE + ".tmp"
    code, _ = run_java(os.path.join(WORK, f"seed-build-{os.getpid()}"),
                       ["--make-seed-store", tmp], BUILD_LIMIT_S,
                       [f"-XX:ArchiveClassesAtExit={archive}"])
    if code != 0:
        log("seed store build failed")
        sys.exit(3)
    os.rename(tmp, SEED_STORE)
    if os.path.exists(archive):
        os.replace(archive, CDS_ARCHIVE)


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is there."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
            "run from a full checkout of the repository")
        sys.exit(2)
    build()
    seed_store()

    code, out = run_java(
        os.path.join(WORK, f"{a.workload}-{os.getpid()}"),
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace), "--seed-store", SEED_STORE]
        + (["--trace-out", os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.json")]
           if a.trace else []),
        RUN_LIMIT_S,
        [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else [])
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        log(f"no result line (exit code {code})")
        sys.exit(code or 5)
    declared = declared_metrics(a.trace)
    printed = set(json.loads(lines[-1])["metrics"])
    if declared is not None and printed != declared:
        log(f"metrics differ from BENCHMARK.json: missing {sorted(declared - printed)}, "
            f"undeclared {sorted(printed - declared)}")
        sys.exit(6)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.exit(code)


if __name__ == "__main__":
    main()
