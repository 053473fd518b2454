#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload bi_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source with sbt (perfbench/build.sbt,
which depends on the engine's own build) when the sources changed since the
last build, then starts one JVM at local[nproc] with a
heap sized from /proc/meminfo (MemTotal/2, clamped to 2..8 GB) and runs the
workload in it. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it holds the
run's details (sample counts, percentiles, failures, machine record).
Everything the run writes stays under .bench_build/ and .bench_work/.
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
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("bi_mix", "graph_fixpoint", "corpus_dedup", "warehouse_ingest")
ENGINE_MARKER = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None


def build():
    """Compile engine + harness if the sources changed; return the classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().split()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    listing = os.path.join(HERE, "target", "runtime-classpath.txt")
    if code != 0 or not os.path.exists(listing):
        raise SystemExit(f"build failed (sbt exit {code})")
    shutil.copyfile(listing, cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().split()


def heap_gb():
    """MemTotal/2 in whole GB, clamped to 2..8 (as the unit-test command sizes it)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--emit-expected", action="store_true",
                    help="rewrite expected/<workload>.tsv from this checkout's outputs")
    a = ap.parse_args()
    if not os.path.exists(ENGINE_MARKER):
        log(f"engine sources not found ({os.path.relpath(ENGINE_MARKER, ROOT)}); "
            "run from a full checkout")
        return 2
    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm = (["java", f"-Xmx{heap_gb()}g"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
              "-cp", os.pathsep.join(cp), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--cores", str(cores),
              "--expected", os.path.join(HERE, "expected")])
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8", SPARK_LOCAL_DIRS=f"{work}/spark-local")
    if a.emit_expected:
        env["GRAFT_BENCH_EMIT_FINGERPRINTS"] = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    with open(os.path.join(WORK_DIR, f"{os.path.basename(work)}.log"), "w") as jvm_log:
        code, out = run_bounded(jvm, RUN_TIMEOUT_S, cwd=work, env=env,
                                stdout=subprocess.PIPE, stderr=jvm_log, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S}s and was stopped")
        return 3
    if a.emit_expected:
        return code
    lines = [l for l in out.splitlines() if l.startswith("{")]
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    if code != 0 or result is None:
        log(f"JVM exited {code} without a result; see {jvm_log.name}")
        return code or 4
    json.loads(result)  # refuse to print a malformed result
    for l in lines:
        if l.startswith('{"detail"'):
            print(l)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
