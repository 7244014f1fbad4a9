#!/usr/bin/env python3
"""Sum the tier-1 test time from sbt's JUnit XML reports, fresh ones only.

`target/test-reports` keeps the report of every suite that ever ran, so a
suite deleted since keeps its old report and a plain sum overstates the
total. This script counts only reports whose files were written at or
after a start time (normally: when the `sbt test` run began) and names
the stale suites it skipped.

Usage:
    python3 scripts/tier1_seconds.py SINCE [REPORT_DIR]

SINCE is a Unix epoch in seconds (`date +%s` before the run) or an ISO
8601 local time such as 2026-10-19T12:00:00. REPORT_DIR defaults to
target/test-reports.
"""
import datetime
import glob
import os
import sys
import xml.etree.ElementTree as ET


def parse_since(text):
    try:
        return float(text)
    except ValueError:
        return datetime.datetime.fromisoformat(text).timestamp()


def main(argv):
    if len(argv) < 2 or len(argv) > 3:
        sys.exit(__doc__)
    since = parse_since(argv[1])
    report_dir = argv[2] if len(argv) == 3 else "target/test-reports"
    paths = sorted(glob.glob(os.path.join(report_dir, "*.xml")))
    if not paths:
        sys.exit(f"no XML reports under {report_dir}")
    seconds, tests, failures, errors, fresh, stale = 0.0, 0, 0, 0, [], []
    for path in paths:
        suite = ET.parse(path).getroot()
        name = suite.get("name", os.path.basename(path))
        if os.path.getmtime(path) < since:
            stale.append(name)
            continue
        fresh.append(name)
        seconds += float(suite.get("time", 0))
        tests += int(suite.get("tests", 0))
        failures += int(suite.get("failures", 0))
        errors += int(suite.get("errors", 0))
    print(f"{seconds:.0f} s over {len(fresh)} suites: {tests} tests, "
          f"{failures} failures, {errors} errors")
    if stale:
        print(f"skipped {len(stale)} stale reports (written before the "
              f"start time): {', '.join(stale)}")


if __name__ == "__main__":
    main(sys.argv)
