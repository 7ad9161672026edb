#!/usr/bin/env python3
"""Bench floor regression gate: diff a fresh BENCH_local.json against the
committed floor map (BENCH_floors.json, written by
tools/merge_bench_floors.py) and fail loudly when any per-query floor
regressed by more than the threshold.

The comparator is the per-query FLOOR — min over all samples (Bench's
`isolated_floors` line for the slowest set, the suite-min `queries` map
otherwise) — because floors track plan quality: ambient host storms move
suite totals and individual passes, but a floor that rises across rounds
means the PLAN got worse (new shuffle, lost pushdown, broken broadcast),
which should surface in-round rather than at judging (BASELINE.md).

Usage: python3 tools/check_bench_floors.py [<old_bench.json>] <new_bench.json> \
           [ratio_threshold=1.5] [abs_floor_s=0.25]

The old side defaults to BENCH_floors.json at the repo root.

A regression needs BOTH new/old > ratio_threshold AND new-old >
abs_floor_s: sub-quarter-second queries jitter by whole multiples on a
shared host without any plan change. Exit 1 iff regressions exist.
"""
import json
import os
import sys

DEFAULT_OLD = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "..", "BENCH_floors.json")


def load_floors(path):
    with open(path) as f:
        return floors_from_lines(f, path)


def floors_from_lines(lines, source):
    """BENCH_local.json is JSONL: line 1 has the per-query suite-min map,
    a later line carries isolated_floors for the slowest set (deeper
    re-sampled minima — prefer them where present)."""
    queries, isolated = {}, {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue
        if not isinstance(rec, dict):
            continue
        if "queries" in rec and isinstance(rec["queries"], dict):
            queries.update(rec["queries"])
        if "isolated_floors" in rec:
            isolated.update(rec["isolated_floors"])
    if not queries:
        sys.exit(f"error: no per-query map found in {source}")
    return {k: min(v, isolated.get(k, v)) for k, v in queries.items()}


def is_number(s):
    try:
        float(s)
        return True
    except ValueError:
        return False


def main():
    args = sys.argv[1:]
    if not args:
        sys.exit(__doc__)
    if len(args) == 1 or is_number(args[1]):
        args = [DEFAULT_OLD] + args
    old_path, new_path = args[0], args[1]
    ratio_thr = float(args[2]) if len(args) > 2 else 1.5
    abs_thr = float(args[3]) if len(args) > 3 else 0.25
    old, new = load_floors(old_path), load_floors(new_path)

    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    regressions, improved = [], 0
    for k in sorted(set(old) & set(new)):
        o, n = old[k], new[k]
        if n < o:
            improved += 1
        if o > 0 and n / o > ratio_thr and n - o > abs_thr:
            regressions.append((k, o, n, n / o))

    if added:
        print(f"new queries (no baseline): {', '.join(added)}")
    if removed:
        print(f"removed queries: {', '.join(removed)}")
    print(f"compared {len(set(old) & set(new))} floors: "
          f"{improved} improved, {len(regressions)} regressed "
          f"(> {ratio_thr}x and > {abs_thr}s)")
    for k, o, n, r in sorted(regressions, key=lambda t: -t[3]):
        print(f"  REGRESSION {k}: {o:.3f}s -> {n:.3f}s ({r:.2f}x) — "
              f"check .explain() for a new shuffle / lost pushdown")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
