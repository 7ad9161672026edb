#!/usr/bin/env python3
"""Run a command under a private java.io.tmpdir and report the scratch
entries it leaves behind.

    tools/tmp_leak_check.py [--tmpdir DIR] [--] CMD [ARG...]

Lists the `graft*` and `dsv2*` entries of DIR, runs CMD with every JVM it
starts pointed at DIR (`-Djava.io.tmpdir` through JAVA_TOOL_OPTIONS, which
forked JVMs inherit) and TMPDIR=DIR, then lists them again. Exits 1 if any
entry is new, else with CMD's exit code.

Without --tmpdir, DIR is a fresh directory that is deleted afterwards. Some
fixtures are cached in the temp dir on purpose and reused by later runs
(e.g. `graft_flagship_<n>.pcap`), and on a fresh DIR they count as new. To
check what one run strands, give the same --tmpdir to two runs: the first
warms the caches, the second must leave nothing new:

    tools/tmp_leak_check.py --tmpdir /var/tmp/leak sbt --batch "testOnly *"
    tools/tmp_leak_check.py --tmpdir /var/tmp/leak sbt --batch "testOnly *"
"""
import argparse
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

PREFIXES = ("graft", "dsv2")


def entries(d):
    return {p.name for p in d.iterdir() if p.name.startswith(PREFIXES)}


def size(p):
    if p.is_symlink() or not p.is_dir():
        return p.lstat().st_size
    return sum(f.lstat().st_size for f in p.rglob("*"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tmpdir", help="temp dir to run under (kept); default: a fresh one, deleted after")
    ap.add_argument("cmd", nargs=argparse.REMAINDER, help="command to run")
    a = ap.parse_args()
    cmd = a.cmd[1:] if a.cmd[:1] == ["--"] else a.cmd
    if not cmd:
        ap.error("no command given")

    fresh = a.tmpdir is None
    tmp = Path(tempfile.mkdtemp(prefix="leakcheck-") if fresh else a.tmpdir).resolve()
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        before = entries(tmp)
        env = dict(os.environ, TMPDIR=str(tmp))
        env["JAVA_TOOL_OPTIONS"] = " ".join(
            filter(None, [env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}"]))
        code = subprocess.call(cmd, env=env)
        new = sorted(entries(tmp) - before)
        for name in new:
            print(f"new: {name} ({size(tmp / name)} bytes)")
        print(f"{len(before)} {'/'.join(PREFIXES)}* entries before, {len(new)} new, "
              f"under {tmp}; command exited {code}")
        return 1 if new else code
    finally:
        if fresh:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
