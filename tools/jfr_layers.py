#!/usr/bin/env python3
"""Attribute a JFR recording's execution samples to a perfbench run's operations.

Usage:
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile" \\
        python3 perfbench/run.py --workload graph_fixpoint --seed 1 --seconds 5 --trace 0
    python3 tools/jfr_layers.py /tmp/run.jfr .bench_work/graph_fixpoint-seed1-trace0.jsonl

For every timed operation (a span of layer "op" in the span file) the tool
prints the execution samples taken inside the operation's wall-clock window,
by thread class (executor task threads, the driver's main thread, other
threads) and by subsystem, and the JIT compile seconds spent inside the
window (the growth of `jdk.CompilerStatistics.totalTimeSpent`, sampled once
a second, so the figure is good to about a second of compile time).

A sample's subsystem is the first pattern, from the leaf frame down, that
any frame of its stack matches: time under SizeEstimator that a shuffle
sorter called counts as size estimation, a graft kernel's own frames as
graft. `jfr print` keeps five frames per stack unless told otherwise, too
few to see the caller of a leaf, so the tool asks for --stack-depth.

Needs the JDK's `jfr` tool on the PATH; standard library only.
"""
import argparse
import bisect
import collections
import datetime
import json
import re
import subprocess
import sys

SUBSYSTEMS = [
    ("size estimation", ("org.apache.spark.util.SizeEstimator",)),
    ("closure cleaning", ("org.apache.spark.util.ClosureCleaner",
                          "org.apache.spark.util.ReturnStatementFinder",
                          "org.apache.xbean.asm")),
    ("janino", ("org.codehaus.janino.", "org.codehaus.commons.compiler.")),
    ("java serialization", ("java.io.ObjectOutputStream", "java.io.ObjectInputStream",
                            "java.io.ObjectStreamClass")),
    ("shuffle maps/sorters", ("org.apache.spark.util.collection.",
                              "org.apache.spark.shuffle.",
                              "org.apache.spark.storage.ShuffleBlockFetcherIterator")),
    ("catalyst", ("org.apache.spark.sql.catalyst.",)),
    ("graft", ("graft.",)),
]
OTHER = "other"

_TIME = re.compile(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)?")


def epoch_ms(stamp):
    """Milliseconds since the epoch of a JFR JSON timestamp (nanosecond
    fractions and a zone offset allowed; no offset means UTC)."""
    m = _TIME.match(stamp)
    if not m:
        raise ValueError(f"unreadable timestamp {stamp!r}")
    base = datetime.datetime.fromisoformat(m.group(1))
    zone = m.group(3) or "Z"
    tz = datetime.timezone.utc if zone == "Z" else datetime.datetime.strptime(zone, "%z").tzinfo
    frac = float("0." + m.group(2)) if m.group(2) else 0.0
    return (base.replace(tzinfo=tz).timestamp() + frac) * 1000.0


def jfr_events(recording, events, stack_depth):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", str(stack_depth),
                          "--events", events, recording],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def thread_class(name):
    if name.startswith("Executor task launch worker"):
        return "executor"
    if name == "main":
        return "driver"
    return "other"


def subsystem(frames):
    for f in frames:
        method = f.get("method") or {}
        # `jfr print --json` writes class names with slashes
        cls = (((method.get("type") or {}).get("name")) or "").replace("/", ".")
        for label, prefixes in SUBSYSTEMS:
            if cls.startswith(prefixes):
                return label
    return OTHER


def load_samples(recording, stack_depth):
    samples = []
    for e in jfr_events(recording, "jdk.ExecutionSample", stack_depth):
        v = e["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        frames = (v.get("stackTrace") or {}).get("frames") or []
        samples.append((epoch_ms(v["startTime"]), thread_class(thread), subsystem(frames)))
    samples.sort()
    return samples


_DURATION = re.compile(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?$")


def duration_ms(v):
    """A JFR JSON timespan: a number of milliseconds or an ISO-8601
    duration such as "PT18.25S"."""
    if isinstance(v, (int, float)):
        return float(v)
    m = _DURATION.match(v)
    if not m:
        raise ValueError(f"unreadable duration {v!r}")
    h, mi, sec = (float(g) if g else 0.0 for g in m.groups())
    return ((h * 60 + mi) * 60 + sec) * 1000.0


def load_compile_stats(recording):
    stats = [(epoch_ms(e["values"]["startTime"]), duration_ms(e["values"]["totalTimeSpent"]))
             for e in jfr_events(recording, "jdk.CompilerStatistics", 1)]
    return sorted(stats)


def compile_seconds(stats, start, end):
    """Growth of the cumulative compile time from the last sample at or
    before `start` to the first at or after `end`."""
    if not stats:
        return None
    times = [t for t, _ in stats]
    i = max(bisect.bisect_right(times, start) - 1, 0)
    j = min(bisect.bisect_left(times, end), len(stats) - 1)
    return (stats[j][1] - stats[i][1]) / 1000.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", help="JFR file of the run")
    ap.add_argument("spans", help="span file .bench_work/<workload>-seed<n>-trace<t>.jsonl")
    ap.add_argument("--stack-depth", type=int, default=64,
                    help="frames per stack to export from the recording (default 64)")
    a = ap.parse_args()

    with open(a.spans) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    ops = [s for s in spans if s["layer"] == "op"]
    if not ops:
        sys.exit(f"no operation spans in {a.spans}")
    samples = load_samples(a.recording, a.stack_depth)
    stamps = [s[0] for s in samples]
    stats = load_compile_stats(a.recording)
    labels = [label for label, _ in SUBSYSTEMS] + [OTHER]
    classes = ["executor", "driver", "other"]

    for op in ops:
        start, end = float(op["start_ms"]), float(op["end_ms"])
        inside = samples[bisect.bisect_left(stamps, start):bisect.bisect_right(stamps, end)]
        by_class = collections.Counter(c for _, c, _ in inside)
        by_sub = collections.Counter((s, c) for _, c, s in inside)
        jit = compile_seconds(stats, start, end)
        print(f"{op['name']} pass {op['pass']}{' traced' if op.get('traced') else ''}: "
              f"{op['seconds']:.2f} s wall, {len(inside)} samples, JIT compile "
              + ("n/a" if jit is None else f"{jit:.2f} s"))
        print("  by thread: " + ", ".join(f"{c} {by_class[c]}" for c in classes))
        print(f"  {'subsystem':<22}" + "".join(f"{c:>10}" for c in classes))
        for label in labels:
            row = [by_sub[(label, c)] for c in classes]
            if any(row):
                print(f"  {label:<22}" + "".join(f"{n:>10}" for n in row))


if __name__ == "__main__":
    main()
