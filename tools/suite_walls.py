#!/usr/bin/env python3
"""Per-suite wall times of one ScalaTest run, from its JUnit XML reports.

Usage: python3 tools/suite_walls.py <label> [--reports DIR] [--out FILE]
                                    [--wall SECONDS] [--note TEXT]

Reads every TEST-*.xml under DIR (default target/test-reports, where
`sbt test` / `sbt testOnly` write them) and stores, under <label> in the
JSON file FILE (default TESTWALLS.json; other labels are kept), one row
per suite -- suite, tests, failures (failures + errors), wall seconds --
sorted slowest first, plus the totals. `--wall` records the measured
wall time of the whole test command beside the sum of suite walls (the
difference is JVM start, compilation and test discovery); `--note`
records where and how the run was made.
"""
import argparse
import glob
import json
import os
import xml.etree.ElementTree as ET


def suites(reports):
    rows = []
    for path in sorted(glob.glob(os.path.join(reports, "TEST-*.xml"))):
        s = ET.parse(path).getroot()
        rows.append({
            "suite": s.get("name"),
            "tests": int(s.get("tests", 0)),
            "failures": int(s.get("failures", 0)) + int(s.get("errors", 0)),
            "wall_s": round(float(s.get("time", 0.0)), 3),
        })
    return sorted(rows, key=lambda r: -r["wall_s"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("label")
    ap.add_argument("--reports", default="target/test-reports")
    ap.add_argument("--out", default="TESTWALLS.json")
    ap.add_argument("--wall", type=float)
    ap.add_argument("--note")
    a = ap.parse_args()
    rows = suites(a.reports)
    if not rows:
        raise SystemExit(f"no TEST-*.xml reports under {a.reports}")
    run = {
        "suites": rows,
        "total": {
            "suites": len(rows),
            "tests": sum(r["tests"] for r in rows),
            "failures": sum(r["failures"] for r in rows),
            "suites_wall_s": round(sum(r["wall_s"] for r in rows), 3),
        },
    }
    if a.wall is not None:
        run["total"]["command_wall_s"] = a.wall
    if a.note:
        run["note"] = a.note
    doc = {}
    if os.path.exists(a.out):
        with open(a.out) as f:
            doc = json.load(f)
    doc[a.label] = run
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    t = run["total"]
    print(f"{a.label}: {t['suites']} suites, {t['tests']} tests, "
          f"{t['failures']} failed, {t['suites_wall_s']} s in suites")


if __name__ == "__main__":
    main()
