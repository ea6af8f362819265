#!/usr/bin/env python3
"""Per-suite and per-test times of a ScalaTest run, read from the JUnit
XML reports sbt writes (target/test-reports/TEST-*.xml).

    python3 tools/test_times.py [reports_dir] [--top N]

Prints each suite's seconds and test count (slowest first), the N
slowest tests (default 15), and the summed suite time. The sum leaves
out sbt's startup, compile and test discovery, so it is less than the
wall time of the test phase.
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("reports", nargs="?", default="target/test-reports")
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()

    files = sorted(glob.glob(os.path.join(args.reports, "TEST-*.xml")))
    if not files:
        sys.exit(f"no TEST-*.xml under {args.reports}")
    suites, tests = [], []
    for f in files:
        root = ET.parse(f).getroot()
        name = root.get("name")
        bad = int(root.get("failures", 0)) + int(root.get("errors", 0))
        suites.append((float(root.get("time", 0)), name,
                       int(root.get("tests", 0)), bad))
        for tc in root.iter("testcase"):
            tests.append((float(tc.get("time", 0)), name, tc.get("name")))

    suites.sort(reverse=True)
    print(f"{'seconds':>9}  {'tests':>5}  {'failed':>6}  suite")
    for secs, name, n, bad in suites:
        print(f"{secs:9.1f}  {n:5d}  {bad:6d}  {name}")
    print(f"\nslowest {args.top} tests:")
    for secs, suite, name in sorted(tests, reverse=True)[:args.top]:
        print(f"{secs:9.1f}  {suite} :: {name}")
    total = sum(s[0] for s in suites)
    print(f"\ntotal {total:.1f} s summed over {len(suites)} suites, "
          f"{sum(s[2] for s in suites)} tests, "
          f"{sum(s[3] for s in suites)} failed")


if __name__ == "__main__":
    main()
