#!/usr/bin/env python3
"""Per-suite summary of the unit suite's JUnit reports.

    python3 tools/test_reports.py [report dir]   # default target/test-reports

Reads every `TEST-*.xml` the sbt test run wrote and prints one row per
suite: tests, failures, errors, skipped and wall time in seconds, slowest
suite first, then a total row. A suite that ABORTED (its constructor, a
fixture or the JVM failed before ScalaTest could report its tests) shows up
as a single `SuiteSelector` testcase carrying the error, so its declared
tests never appear; such suites are flagged, and the exit status is 1 if
there is any. Standard library only.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

ABORT_MARK = "SuiteSelector"


def suite_row(path):
    root = ET.parse(path).getroot()
    cases = root.findall("testcase")
    aborted = [c for c in cases if ABORT_MARK in c.get("name", "")]
    reason = ""
    for c in aborted:
        err = c.find("error")
        if err is None:
            err = c.find("failure")
        if err is not None:
            reason = err.get("message", "")
    return {
        "suite": root.get("name", os.path.basename(path)),
        "tests": int(root.get("tests", 0)),
        "failures": int(root.get("failures", 0)),
        "errors": int(root.get("errors", 0)),
        "skipped": int(root.get("skipped", 0)),
        "time": max(float(root.get("time", 0.0)), 0.0),
        "aborted": bool(aborted),
        "reason": reason,
    }


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    paths = sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml")))
    if not paths:
        print(f"no TEST-*.xml under {report_dir}", file=sys.stderr)
        return 2
    rows = sorted((suite_row(p) for p in paths), key=lambda r: -r["time"])
    width = max(len(r["suite"]) for r in rows + [{"suite": "suite"}])
    cols = ("tests", "failures", "errors", "skipped")
    print(f"{'suite':<{width}} " + " ".join(f"{c:>8}" for c in cols) +
          f" {'time_s':>9}")
    for r in rows:
        flag = f"  ABORTED: {r['reason'][:120]}" if r["aborted"] else ""
        print(f"{r['suite']:<{width}} " +
              " ".join(f"{r[c]:>8}" for c in cols) +
              f" {r['time']:>9.1f}{flag}")
    print(f"{'total':<{width}} " +
          " ".join(f"{sum(r[c] for r in rows):>8}" for c in cols) +
          f" {sum(r['time'] for r in rows):>9.1f}")
    aborted = [r["suite"] for r in rows if r["aborted"]]
    if aborted:
        print(f"{len(aborted)} suite(s) aborted: {', '.join(aborted)}",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
