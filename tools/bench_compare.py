#!/usr/bin/env python
"""Adjudicate a bench run against the recorded anchors.

Usage:
    python tools/bench_compare.py [BENCH_JSON]

Without a path this adjudicates `bench_full_latest.json`, the map the
last `python bench.py` wrote. Pass a path to adjudicate any other run.

Compares every query against bench_anchors.json minimums. Prints one
line per flagged query (ratio > BAR x anchor) and a summary line; exit
code 1 when anything is flagged.

A FLAG is a TRIAGE item, not a verdict: the host has multi-minute
noise phases during which individual in-suite readings run 3-9x their
quiet minimums with unchanged plans (measured and adjudicated in
BASELINE.md round 8 — kmeans_refine read 5.6 s in-suite, 1.3 s
isolated). The adjudication protocol is: rerun every flagged query
with `python tools/profile_query.py <name> ...` (fresh JVM, warmup, n=3)
and only an ISOLATED reading above the bar is a regression.

Shared memo builds are timed as their own `memo:<key>` rows (bench.py),
so no entry carries a build and every entry is gated at BAR x anchor.
The memo rows are listed with their seconds and not flagged.
"""

from __future__ import annotations

import json
import os
import sys

# 3.0 is the TRIAGE TRIP-WIRE, not the target: the written bar of
# record (BASELINE.md "The bar, in one sentence") is 2x-anchor as the
# performance target, 3x as the flag that forces the profile_query rerun,
# and only an ISOLATED minimum above 2x is a regression. Keep this
# number and that sentence in sync.
BAR = 3.0


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(root, "bench_full_latest.json")
    )
    print(f"sample of record: {os.path.basename(bench_path)}")
    bench = json.load(open(bench_path))
    if bench.get("tier", "full") != "full":
        print(
            f"WARNING: {os.path.basename(bench_path)} is a "
            f"'{bench['tier']}'-tier run ({bench.get('n_queries')} "
            "queries) — full-suite adjudication needs a plain "
            "`python bench.py` run"
        )
    book = json.load(open(os.path.join(root, "bench_anchors.json")))
    if bench.get("sf") != book.get("sf"):
        print(
            f"WARNING: bench sf={bench.get('sf')} but anchors were "
            f"recorded at sf={book.get('sf')} — ratios are not "
            "comparable across scale factors"
        )
    anchors = book["anchors"]
    flagged, unanchored, builds = [], [], []
    for name, sec in sorted(bench["queries"].items()):
        if name.startswith("memo:"):
            builds.append((name, sec))
            continue
        a = anchors.get(name)
        if a is None:
            unanchored.append(name)
            continue
        if sec > BAR * a:
            flagged.append((name, sec, a, sec / a))
    for name, sec, a, ratio in sorted(flagged, key=lambda t: -t[3]):
        print(f"FLAG {name}: {sec:.2f}s vs anchor {a:.2f}s ({ratio:.1f}x)")
    for name in unanchored:
        print(f"NO-ANCHOR {name} (add to bench_anchors.json next quiet run)")
    for name, sec in sorted(builds, key=lambda t: -t[1]):
        print(f"BUILD {name}: {sec:.2f}s")
    n = len(bench["queries"]) - len(builds)
    print(
        f"bench_compare: {n} queries, {len(flagged)} flagged, "
        f"{len(unanchored)} unanchored, {len(builds)} memo builds "
        f"({sum(s for _, s in builds):.1f}s), suite {bench['value']}s "
        f"(sf {bench.get('sf')})"
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
