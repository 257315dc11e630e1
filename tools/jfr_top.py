#!/usr/bin/env python3
"""Top frames of a Java Flight Recorder recording, per sample kind.

Usage:

    python3 tools/jfr_top.py REC.jfr [--thread REGEX] [--depth N]

Runs `jfr print --json` (the JDK's `jfr` tool, from $JAVA_HOME/bin or PATH)
and prints, for the Java samples (`jdk.ExecutionSample`) and the native
samples (`jdk.NativeMethodSample`) of the threads whose name matches REGEX
(all threads by default), the 15 frames (`TOP`) most often on top of the stack
(self) and most often anywhere in it (inclusive), with sample counts and
shares. `--depth` is the stack depth read per sample (default 64); a frame
deeper than that does not count as inclusive. A native sample's top frame
is the Java method that called into native code, for example
`java.lang.ProcessImpl.forkAndExec` for a forked process.

Record with, for example:

    java -XX:StartFlightRecording=filename=rec.jfr,settings=profile ...
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


def samples(rec, depth):
    """(kind, thread name, [frame, ...] top first) for every sample."""
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
        yield kinds[e["type"]], thread, frames


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="", help="regex on the sampled thread's name")
    ap.add_argument("--depth", type=int, default=64, help="stack frames read per sample")
    args = ap.parse_args()
    match = re.compile(args.thread)

    n = collections.Counter()
    self_ = {k: collections.Counter() for _, k in KINDS}
    incl = {k: collections.Counter() for _, k in KINDS}
    threads = collections.Counter()
    for kind, thread, frames in samples(args.recording, args.depth):
        if not match.search(thread):
            continue
        n[kind] += 1
        threads[re.sub(r"\d+", "N", thread)] += 1
        if frames:
            self_[kind][frames[0]] += 1
        incl[kind].update(set(frames))

    print(f"{args.recording}: thread ~ /{args.thread}/, stack depth {args.depth}")
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
