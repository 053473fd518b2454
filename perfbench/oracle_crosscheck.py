#!/usr/bin/env python3
"""Check a read workload's outputs against the DuckDB oracle.

    python3 perfbench/oracle_crosscheck.py graph_fixpoint <out-dir>

Writes the workload's fixed corpus to <out-dir>/corpus, runs graft.Verify
on it for the workload's entries, then tools/oracle_check.py, which runs
each entry's DuckDB twin (SparkEntry.oracleSql) on the same tables and
compares schema, row count and a hash of all values. Entries without a
twin get a rows-only check. The committed fingerprints in expected/ are
trusted only while this passes for every entry that has a twin.
"""
import glob
import os
import shutil
import subprocess
import sys

import run as bench


def java(cp, main, args, env):
    cmd = (["java", f"-Xmx{bench.heap_gb()}g"]
           + [x for p in bench.JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join(cp), main] + args)
    return subprocess.run(cmd, env=env, check=True, stdout=subprocess.PIPE, text=True).stdout


def main():
    workload, out = sys.argv[1], os.path.abspath(sys.argv[2])
    cp = bench.build()
    cores = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8", SPARK_GRAFT_CPUS=cores)
    corpus = os.path.join(out, "corpus")
    ops = java(cp, "graftbench.Main",
               ["--workload", workload, "--seed", "0", "--seconds", "0", "--trace", "0",
                "--work", os.path.join(out, "work"), "--cores", cores,
                "--expected", os.path.join(bench.HERE, "expected")],
               dict(env, GRAFT_BENCH_CORPUS_OUT=corpus)).strip().splitlines()[-1]
    # Spark wrote each table as a directory holding one part file; DuckDB's
    # views in oracle_check.py want one file per table, as in the test data
    flat = os.path.join(out, "tables")
    os.makedirs(flat, exist_ok=True)
    for table in glob.glob(os.path.join(corpus, "*.parquet")):
        part, = glob.glob(os.path.join(table, "part-*.parquet"))
        shutil.copyfile(part, os.path.join(flat, os.path.basename(table)))
    java(cp, "graft.Verify", [flat, os.path.join(out, "verify")], dict(env, SPARK_GRAFT_ONLY=ops))
    return subprocess.run([sys.executable, os.path.join(bench.ROOT, "tools", "oracle_check.py"),
                           flat, os.path.join(out, "verify")]).returncode


if __name__ == "__main__":
    sys.exit(main())
