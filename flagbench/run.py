#!/usr/bin/env python3
"""Benchmark of the graft engine: flagship pcap -> labeled Parquet pipeline
and a mix of registered operator queries.

Run from the root of a checkout:

    python3 flagbench/run.py --workload flagship_wide --seed 1 --seconds 12 --trace 0

The first run builds the engine and this harness with sbt (offline) and
records the run classpath under flagbench/target; later runs reuse it
while the sources are unchanged. The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer ones, and the traced run also writes its spans to
flagbench/out/. Everything else goes to stderr.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("flagship_wide", "ops_mix")
RUN_LIMIT_S = 175    # a run must end within 180 s
BUILD_LIMIT_S = 890  # ... or 900 s when it has to build first

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_children = []


def log(msg):
    print(f"[flagbench] {msg}", file=sys.stderr, flush=True)


def stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def run_child(cmd, cwd, env, limit_s):
    """Run cmd in its own process group, output to stderr; kill the whole
    group if it outlives limit_s. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    _children.append(p)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit_s:.0f} s, killed")
        return None
    finally:
        stop_children()
        _children.remove(p)


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness unless the recorded build matches the sources."""
    target = BENCH / "target"
    classpath, stamp_file = target / "run-classpath.txt", target / "build-stamp"
    stamp = source_stamp()
    if classpath.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath.read_text().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     BENCH, env, deadline - time.monotonic())
    if code != 0 or not classpath.exists():
        raise SystemExit(f"build failed (sbt exit {code})")
    stamp_file.write_text(stamp)
    return classpath.read_text().strip(), True


def relayout(src, dest, seed):
    """ops_mix input: every table of src copied to dest/<table>.parquet/,
    its rows scattered over four files in a seeded order. Query results do
    not depend on the layout; the file count is fixed because the number
    of scan tasks would move the timings."""
    import numpy as np
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    for f in sorted(src.glob("*.parquet")):
        table = pq.read_table(f)
        out = dest / f.name
        out.mkdir(parents=True)
        for i, part in enumerate(np.array_split(rng.permutation(table.num_rows), 4)):
            pq.write_table(table.take(part), out / f"part-{i:05d}.parquet")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()
    signal.signal(signal.SIGTERM, lambda *_: (stop_children(), sys.exit(143)))

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no engine sources under {ROOT}; run from the root of a graft checkout")
        return 2
    classpath, built = build(start + BUILD_LIMIT_S)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    cores = len(os.sched_getaffinity(0))
    work = BENCH / "work" / f"{a.workload}-s{a.seed}-{os.getpid()}"
    out = BENCH / "out"
    result_file = work / "result.json"
    try:
        (work / "tmp").mkdir(parents=True)
        out.mkdir(exist_ok=True)
        if a.workload == "ops_mix":
            relayout(BENCH / "data" / "sf0.01", work / "tables", a.seed)
        cmd = (["java", "-Xmx4g", "-XX:+IgnoreUnrecognizedVMOptions"]
               + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
               + [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
                  "-cp", classpath, "flagbench.Main",
                  a.workload, str(a.seed), str(a.seconds), str(a.trace), str(cores),
                  str(work), str(BENCH / "data"),
                  str(out / f"trace-{a.workload}-s{a.seed}.jsonl"), str(result_file)])
        code = run_child(cmd, ROOT, os.environ.copy(), deadline - time.monotonic())
        if code != 0 or not result_file.exists():
            log(f"benchmark JVM failed (exit {code})")
            return 1
        line = result_file.read_text().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
