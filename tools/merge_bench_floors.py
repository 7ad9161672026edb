#!/usr/bin/env python3
"""Write the committed bench floor map: the per-query minimum over every
source given, as one JSON line that tools/check_bench_floors.py reads as
its default old side.

Usage: python3 tools/merge_bench_floors.py <out.json> <source> [<source> ...]

A source is one of
  - a Bench JSONL file (BENCH_local.json): its `queries` map, with the
    `isolated_floors` line's deeper minima where present;
  - a recorded bench run (BENCH_rNN.json, one JSON object): the Bench line
    inside its `tail`;
  - either of the above at a git revision, written `REV:PATH`.

BENCH_floors.json is written only by this script, never by a bench run, so
a run that overwrites BENCH_local.json cannot take the floors with it.
Regenerate it from the previous floors plus the new runs, e.g.
  python3 tools/merge_bench_floors.py BENCH_floors.json \\
      BENCH_floors.json BENCH_r19.json BENCH_r19_c8.json
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_bench_floors import floors_from_lines  # noqa: E402


def read_source(src):
    if os.path.exists(src):
        with open(src) as f:
            return f.read()
    rev, sep, path = src.partition(":")
    if not sep:
        sys.exit(f"error: no such file: {src}")
    return subprocess.run(["git", "show", f"{rev}:{path}"], check=True,
                          capture_output=True, text=True).stdout


def floors(src):
    text = read_source(src)
    try:
        rec = json.loads(text)
    except json.JSONDecodeError:
        rec = None  # JSONL
    if isinstance(rec, dict) and "tail" in rec:
        text = rec["tail"]
    return floors_from_lines(text.splitlines(), src)


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out, sources = sys.argv[1], sys.argv[2:]
    merged = {}
    for src in sources:
        for k, v in floors(src).items():
            merged[k] = min(v, merged.get(k, v))
    rec = {"metric": "floors", "value": round(sum(merged.values()), 3),
           "unit": "sec", "n_queries": len(merged), "sources": sources,
           "queries": dict(sorted(merged.items()))}
    with open(out, "w") as f:
        f.write(json.dumps(rec) + "\n")
    print(f"{out}: {len(merged)} floors, total {rec['value']} s")


if __name__ == "__main__":
    main()
