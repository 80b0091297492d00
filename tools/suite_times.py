#!/usr/bin/env python3
"""Per-suite wall time and test count from ScalaTest's JUnit XML reports.

Reads every `TEST-*.xml` under the reports directory (default
`target/test-reports`, where `sbt test` / `sbt testOnly` write them),
and prints one line per suite, slowest first: wall seconds, test
count, failures + errors, and the suite name; then the totals.

    python3 tools/suite_times.py [reports-dir]

The time is the `time` attribute sbt's JUnit reporter writes on each
`<testsuite>` element (the suite's own wall time, excluding JVM and
compile start-up).
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(reports_dir):
    """(name, seconds, tests, failed) per report file."""
    out = []
    for path in glob.glob(os.path.join(reports_dir, "TEST-*.xml")):
        root = ET.parse(path).getroot()
        nodes = [root] if root.tag == "testsuite" else root.findall("testsuite")
        for s in nodes:
            failed = int(s.get("failures", 0)) + int(s.get("errors", 0))
            out.append((s.get("name", os.path.basename(path)),
                        float(s.get("time", 0.0)), int(s.get("tests", 0)),
                        failed))
    return sorted(out, key=lambda r: (-r[1], r[0]))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("reports", nargs="?", default="target/test-reports")
    args = ap.parse_args(argv)
    rows = suites(args.reports)
    if not rows:
        print(f"no TEST-*.xml under {args.reports}", file=sys.stderr)
        return 1
    print(f"{'seconds':>9} {'tests':>5} {'failed':>6}  suite")
    for name, secs, tests, failed in rows:
        print(f"{secs:9.1f} {tests:5d} {failed:6d}  {name}")
    print(f"{sum(r[1] for r in rows):9.1f} {sum(r[2] for r in rows):5d} "
          f"{sum(r[3] for r in rows):6d}  total ({len(rows)} suites)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
