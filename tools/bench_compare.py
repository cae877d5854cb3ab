#!/usr/bin/env python
"""Adjudicate a bench run against the recorded anchors, or compare two
bench maps.

Usage:
    python tools/bench_compare.py [BENCH_JSON]
    python tools/bench_compare.py A.json B.json [--step-factor N]

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
with `python bench.py NAME ... --runs 3` (fresh JVM, warmup, MIN of 3)
and only an ISOLATED reading above the bar is a regression.

Shared memo builds are timed as their own `memo:<key>` rows (bench.py),
so no entry carries a build and every entry is gated at BAR x anchor.
The memo rows are listed with their seconds and not flagged.

With two maps (the same named entries timed at two slices, e.g.
sf0.01 and sf0.1) it prints the B/A ratio of every entry in both and
flags a ratio above 1.5 x the step factor (default 10, the data
growth from A's slice to B's): such an entry has a worse-than-linear
term. Memo rows are listed, never flagged. Exit code 1 when anything
is flagged.
"""

from __future__ import annotations

import argparse
import json
import os

# 3.0 is the TRIAGE TRIP-WIRE, not the target: the written bar of
# record (BASELINE.md "The bar, in one sentence") is 2x-anchor as the
# performance target, 3x as the flag that forces the isolated
# `bench.py NAME --runs 3` rerun, and only an ISOLATED minimum above 2x
# is a regression. Keep this number and that sentence in sync.
BAR = 3.0


def compare(path_a: str, path_b: str, step: float) -> int:
    """Print B/A per entry of two bench maps; 1 when any entry's ratio
    exceeds 1.5 x ``step``."""
    a, b = (json.load(open(p)) for p in (path_a, path_b))
    bar = 1.5 * step
    both = [n for n in a["queries"] if n in b["queries"]]
    flagged = builds = 0
    for name in both:
        ta, tb = a["queries"][name], b["queries"][name]
        ratio = tb / ta if ta > 0 else float("inf")
        if name.startswith("memo:"):
            builds += 1
            print(f"BUILD {name}: {ta:.2f}s -> {tb:.2f}s ({ratio:.1f}x)")
            continue
        flag = ratio > bar
        flagged += flag
        print(
            f"{name}: {ta:.2f}s -> {tb:.2f}s  ratio {ratio:.1f}x"
            + ("  <<< SUPER-LINEAR (adjudicate)" if flag else "")
        )
    print(
        f"bench_compare: {len(both) - builds} entries in both maps "
        f"(sf {a.get('sf')} -> {b.get('sf')}), {flagged} above "
        f"{bar:g}x (1.5 x step {step:g}), {builds} memo builds"
    )
    return 1 if flagged else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("maps", nargs="*", metavar="BENCH_JSON")
    ap.add_argument("--step-factor", type=float)
    args = ap.parse_args()
    if len(args.maps) > 2:
        ap.error("at most two bench maps")
    if len(args.maps) == 2:
        return compare(*args.maps, args.step_factor or 10.0)
    if args.step_factor is not None:
        ap.error("--step-factor compares two bench maps")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench_path = (
        args.maps[0] if args.maps else os.path.join(root, "bench_full_latest.json")
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
