#!/usr/bin/env python3
"""Summarize a Spark event log: one row per SQL execution.

    python3 tools/eventlog_summary.py <event log file or rolling-log dir>

Columns: execution id, Spark jobs it ran, wall span (execution start to
end), summed task run time, largest broadcast (the biggest BroadcastExchange
"data size" the execution built), write target (the path an
InsertIntoHadoopFsRelationCommand wrote), and the execution's description.
Jobs that ran outside any SQL execution are summed in a last "-" row.

Plain logs are read as they are; `.zst`/`.zstd` logs (Spark 4's default
codec) are decompressed through the `zstd` command-line tool. Standard
library only.
"""
import json
import os
import re
import subprocess
import sys

SQL = "org.apache.spark.sql.execution.ui."
WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?), ")


def log_files(path):
    """The event log's files in order (a rolling log is a directory)."""
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    # events_<index>_<app id>[.codec]: order by the numeric index
    return [os.path.join(path, n)
            for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def read_lines(path):
    if path.endswith((".zst", ".zstd")):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             stdout=subprocess.PIPE).stdout
        return out.decode("utf-8").splitlines()
    if path.endswith((".lz4", ".snappy", ".lzf")):
        raise SystemExit(f"{path}: only plain and zstd event logs are supported")
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def plan_nodes(plan):
    yield plan
    for child in plan.get("children", []):
        yield from plan_nodes(child)


def broadcast_sizes(plan, out):
    """accumulator id of every BroadcastExchange 'data size' metric in plan."""
    for node in plan_nodes(plan):
        if node.get("nodeName", "").startswith("BroadcastExchange"):
            out.update(m["accumulatorId"] for m in node.get("metrics", [])
                       if m.get("name") == "data size")


def write_target(plan):
    for node in plan_nodes(plan):
        m = WRITE.search(node.get("simpleString", ""))
        if m:
            return m.group(1)
    return ""


class Execution:
    def __init__(self, eid):
        self.eid = eid
        self.start = self.end = None
        self.desc = ""
        self.write = ""
        self.jobs = 0
        self.task_ms = 0
        self.bcast_ids = set()
        self.bcast_max = 0


def summarize(lines):
    execs = {}
    stage_exec = {}
    accum = {}

    def ex(eid):
        return execs.setdefault(eid, Execution(eid))

    for line in lines:
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == SQL + "SparkListenerSQLExecutionStart":
            x = ex(e["executionId"])
            x.start = e["time"]
            x.desc = e.get("description", "")
            x.write = write_target(e.get("sparkPlanInfo", {}))
            broadcast_sizes(e.get("sparkPlanInfo", {}), x.bcast_ids)
        elif kind == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            broadcast_sizes(e.get("sparkPlanInfo", {}), ex(e["executionId"]).bcast_ids)
        elif kind == SQL + "SparkListenerSQLExecutionEnd":
            ex(e["executionId"]).end = e["time"]
        elif kind == SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                accum.setdefault(e["executionId"], {})[acc_id] = value
        elif kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            x = ex(int(eid) if eid is not None else None)
            x.jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_exec.setdefault(sid, x)
        elif kind == "SparkListenerTaskEnd":
            x = stage_exec.get(e.get("Stage ID"))
            metrics = e.get("Task Metrics") or {}
            if x is not None:
                x.task_ms += metrics.get("Executor Run Time", 0)
    for eid, updates in accum.items():
        x = ex(eid)
        x.bcast_max = max([updates[a] for a in x.bcast_ids if a in updates] or [0])
    return execs


def fmt_bytes(n):
    return f"{n / 1048576:.2f}" if n else "-"


def main(argv):
    if len(argv) != 2 or argv[1] in ("-h", "--help"):
        print(__doc__.strip())
        return 2
    lines = [l for f in log_files(argv[1]) for l in read_lines(f)]
    execs = summarize(lines)
    rows = sorted((x for x in execs.values() if x.eid is not None), key=lambda x: x.eid)
    print(f"{'exec':>5} {'jobs':>5} {'wall_s':>8} {'task_s':>8} {'bcast_mb':>9}  "
          f"{'write':<40} description")
    for x in rows:
        wall = (x.end - x.start) / 1000 if x.start is not None and x.end is not None else 0.0
        print(f"{x.eid:>5} {x.jobs:>5} {wall:>8.3f} {x.task_ms / 1000:>8.3f} "
              f"{fmt_bytes(x.bcast_max):>9}  {x.write[-40:]:<40} "
              f"{' '.join(x.desc.split())[:60]}")
    loose = execs.get(None)
    if loose is not None:
        print(f"{'-':>5} {loose.jobs:>5} {'-':>8} {loose.task_ms / 1000:>8.3f} "
              f"{'-':>9}  {'':<40} jobs outside any SQL execution")
    total_jobs = sum(x.jobs for x in execs.values())
    total_task = sum(x.task_ms for x in execs.values()) / 1000
    print(f"total: {len(rows)} executions, {total_jobs} jobs, {total_task:.3f} s task time")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
