#!/usr/bin/env python3
"""Per-suite wall time and test count from sbt's JUnit reports, slowest
first, plus the totals: the figures to watch against the tier-1 timeout.

Usage: python3 tools/suite_times.py [reportDir]   (default target/test-reports)
"""
import glob, os, sys
import xml.etree.ElementTree as ET


def main(report_dir):
    rows = []
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        s = ET.parse(path).getroot()
        bad = sum(int(s.get(k, 0)) for k in ("errors", "failures"))
        rows.append((float(s.get("time", 0)), int(s.get("tests", 0)), bad, s.get("name")))
    if not rows:
        print(f"no TEST-*.xml under {report_dir}", file=sys.stderr)
        return 1
    rows.sort(key=lambda r: -r[0])
    print(f"{'time_s':>9} {'tests':>6} {'failed':>6}  suite")
    for t, n, bad, name in rows:
        print(f"{t:9.1f} {n:6d} {bad:6d}  {name}")
    print(f"{sum(r[0] for r in rows):9.1f} {sum(r[1] for r in rows):6d} "
          f"{sum(r[2] for r in rows):6d}  total ({len(rows)} suites)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"))
