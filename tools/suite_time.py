#!/usr/bin/env python3
"""Sums the test suites' run times from sbt's JUnit XML reports.

Usage: python3 tools/suite_time.py [reportDir]   (default target/test-reports)

Reads every TEST-*.xml in reportDir, adds up the `time` attribute of each
<testsuite>, and prints the total, the number of suites and tests, the
span of the reports' timestamps, and the 10 slowest suites. sbt rewrites
the report of every suite it runs but never deletes one, so a report of a
suite that no longer exists stays until the directory is cleared; the
timestamp span shows when reports from an older run are mixed in.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main(report_dir: str) -> int:
    suites = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            suites.append((float(s.get("time", "0")), s.get("name", path),
                           int(s.get("tests", "0")), s.get("timestamp", "")))
    if not suites:
        print(f"no TEST-*.xml reports in {report_dir}", file=sys.stderr)
        return 1
    total = sum(t for t, _, _, _ in suites)
    stamps = sorted(ts for _, _, _, ts in suites if ts)
    print(f"total {total:.1f} s over {len(suites)} suites, "
          f"{sum(n for _, _, n, _ in suites)} tests")
    if stamps:
        print(f"reports from {stamps[0]} to {stamps[-1]}")
    print("slowest:")
    for t, name, n, _ in sorted(suites, reverse=True)[:10]:
        print(f"  {t:8.1f} s  {name} ({n} tests)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"))
