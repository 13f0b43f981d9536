#!/usr/bin/env python3
"""Runs one benchmark run of the graft engine and prints its result.

    python3 perfbench/run.py --workload dml_trickle --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the engine. The first run builds the
engine and the benchmark with sbt (the build is skipped while no source
file changed), then one fresh JVM builds the workload's warehouse at the
seed and runs the workload's timed ops; see README.md. The last line of
standard output is the result: one JSON object with `correct`,
`attempted`, `failed` and `metrics`; the line before it is the run's
witness (host, per-class percentiles with their sample counts).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dml_trickle", "bcdr_cycle")
HEAP = "2g"
# The JVM's time limit is this plus twice --seconds: set-ups and final
# checks take up to about 80 s on a loaded host, and the timed phase runs
# whole blocks, so it can overrun --seconds by up to one block.
SETUP_ALLOWANCE_S = 100
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building with sbt when sources changed."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    fresh = (os.path.exists(cp_file) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                 cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"build failed (exit {rc}); log in {log}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def run_jvm(cp, args, work):
    out = os.path.join(work, "result.jsonl")
    log = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    os.makedirs(os.path.join(work, "tmp"))
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=SETUP_ALLOWANCE_S + 2 * args.seconds)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail(f"benchmark JVM ended with {rc}")
    with open(out) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    return lines


def checked(result):
    """The result line's shape: exactly the contract's keys, finite metrics."""
    r = json.loads(result)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(r)}")
    if not isinstance(r["correct"], bool) or r["attempted"] < 1:
        fail(f"bad result {result}")
    for name, m in r["metrics"].items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            fail(f"metric {name} has no finite value: {m}")
    return result


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    start, ticks0 = time.monotonic(), cpu_ticks()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources at {ROOT}: run from the root of a graft checkout")
    cp = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        lines = run_jvm(cp, args, work)
        if args.trace:
            spans = os.path.join(work, "result.jsonl.spans.jsonl")
            keep = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.spans.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.move(spans, keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if len(lines) != 2:
        fail(f"expected a witness and a result line, got {len(lines)} lines")
    witness = json.loads(lines[0])
    witness["witness"]["run_wall_s"] = round(time.monotonic() - start, 3)
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests during the run
        witness["witness"]["steal_pct"] = round(
            100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 2)
    print(json.dumps(witness, separators=(",", ":")))
    print(checked(lines[1]))


if __name__ == "__main__":
    main()
