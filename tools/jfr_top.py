#!/usr/bin/env python3
"""Top frames of a Java Flight Recorder recording, per sample kind.

Usage:

    python3 tools/jfr_top.py REC.jfr [--thread REGEX] [--depth N]
                             [--from HH:MM:SS] [--to HH:MM:SS]

Runs `jfr print --json` (the JDK's `jfr` tool, from $JAVA_HOME/bin or PATH)
and prints, for the Java samples (`jdk.ExecutionSample`) and the native
samples (`jdk.NativeMethodSample`) of the threads whose name matches REGEX
(all threads by default), the 15 frames (`TOP`) most often on top of the stack
(self) and most often anywhere in it (inclusive), with sample counts and
shares. `--depth` is the stack depth read per sample (default 64); a frame
deeper than that does not count as inclusive. A native sample's top frame
is the Java method that called into native code, for example
`java.lang.ProcessImpl.forkAndExec` for a forked process. `--from` and
`--to` keep only the samples taken in those seconds, both included, as time
of day in the zone `jfr print` writes (`jfr summary REC.jfr` shows it), so a
profile can leave out a run's set-up; either may be left out.

Record with, for example:

    java -XX:StartFlightRecording=filename=rec.jfr,settings=profile ...

A `perfbench` run is recorded without editing the harness: `run.py` passes
its environment to the JVM it starts, and that JVM reads `spark.*` system
properties into its Spark conf. Build first (a plain run rebuilds
`.bench_build/` after a source change), so that no build JVM writes the
recording as well:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/rec.jfr,settings=profile" \
        python3 perfbench/run.py --workload point_load --seed 1 --seconds 20 --trace 1

Adding `-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=file:/tmp/events` (an existing directory) to
JAVA_TOOL_OPTIONS also writes the Spark event log, one JSON line per event
under `/tmp/events/eventlog_v2_*/`: every job, stage and task with its
start and end, to line the samples up with the jobs they ran beside.
"""

import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys

KINDS = [("jdk.ExecutionSample", "java"), ("jdk.NativeMethodSample", "native")]
TOP = 15  # frames printed per table


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "jfr") if home else shutil.which("jfr")
    if not exe or not os.path.exists(exe):
        sys.exit("jfr_top: no `jfr` tool on PATH or in $JAVA_HOME/bin")
    return exe


def clock(text):
    """An HH:MM:SS argument, as given."""
    if not re.fullmatch(r"\d\d:\d\d:\d\d", text):
        raise argparse.ArgumentTypeError(f"'{text}' is not HH:MM:SS")
    return text


def samples(rec, depth):
    """(kind, thread name, HH:MM:SS, [frame, ...] top first) for every sample."""
    out = subprocess.run(
        [jfr_tool(), "print", "--json", "--stack-depth", str(depth),
         "--events", ",".join(k for k, _ in KINDS), rec],
        check=True, capture_output=True, text=True).stdout
    kinds = dict(KINDS)
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        t = v.get("sampledThread") or {}
        thread = t.get("javaName") or t.get("osName") or "?"
        frames = [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
                  for f in ((v.get("stackTrace") or {}).get("frames") or [])]
        at = re.search(r"T(\d\d:\d\d:\d\d)", v["startTime"]).group(1)
        yield kinds[e["type"]], thread, at, frames


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="", help="regex on the sampled thread's name")
    ap.add_argument("--depth", type=int, default=64, help="stack frames read per sample")
    ap.add_argument("--from", dest="since", type=clock, default="00:00:00", metavar="HH:MM:SS",
                    help="first second kept")
    ap.add_argument("--to", dest="until", type=clock, default="23:59:59", metavar="HH:MM:SS",
                    help="last second kept")
    args = ap.parse_args()
    match = re.compile(args.thread)

    n = collections.Counter()
    self_ = {k: collections.Counter() for _, k in KINDS}
    incl = {k: collections.Counter() for _, k in KINDS}
    threads = collections.Counter()
    for kind, thread, at, frames in samples(args.recording, args.depth):
        if not match.search(thread) or not args.since <= at <= args.until:
            continue
        n[kind] += 1
        threads[re.sub(r"\d+", "N", thread)] += 1
        if frames:
            self_[kind][frames[0]] += 1
        incl[kind].update(set(frames))

    print(f"{args.recording}: thread ~ /{args.thread}/, stack depth {args.depth}, "
          f"{args.since} to {args.until}")
    for name, c in threads.most_common(5):
        print(f"  {c:6d} samples  {name}")
    for _, kind in KINDS:
        total = n[kind]
        print(f"\n{kind} samples: {total}")
        for title, counts in (("self", self_[kind]), ("inclusive", incl[kind])):
            print(f"  top {title}:")
            for frame, c in counts.most_common(TOP):
                print(f"    {c:6d} {100.0 * c / total:5.1f}%  {frame}")


if __name__ == "__main__":
    main()
