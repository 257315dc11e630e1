#!/usr/bin/env python3
"""Paired parent/change benchmark: checks out the parent commit, runs
alternating pairs of `perfbench/run.py --trace 0` per workload and seed, and
prints `perfbench/compare.py`'s verdict per end-to-end metric.

Usage (from anywhere in the repository):

    python3 tools/ab.py --parent REV --workdir DIR [--seeds 1-10 7919]
                        [--workloads point_load live_ingest] [--seconds N]
                        [--also NAME...]

The parent commit REV (`HEAD` while the change is uncommitted, `HEAD~1`
once it is committed) is cloned into `DIR/parent` and checked out detached;
a later call with the same DIR and parent reuses that checkout and its
benchmark build. The change is the working tree of this repository. For
the i-th seed the parent runs first when i is even and second when i is odd,
so neither side always runs on the warmer host. Run outputs are appended to
`DIR/parent.txt` and `DIR/change.txt` (delete them to start over), then
compared. Workloads and `--seconds` default to BENCHMARK.json. Each run takes
about a minute; run nothing else on the host meanwhile.

`--also` names metrics that run.py prints as `  name = value unit` lines but
BENCHMARK.json does not bound, such as the per-kind medians `load_p50_ms
page_p50_ms point_p50_ms index_range_p50_ms` of point_load; their parent and
change medians and quartiles over the paired runs are printed after the
verdicts.
"""

import argparse
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import compare  # noqa: E402
import metrics  # noqa: E402

NAMED = re.compile(r"^  (\S+) = (-?[0-9.]+(?:e[-+]?[0-9]+)?) \S")


def seeds(specs):
    """'1-10' and '7919' style arguments to a list of seeds, in order."""
    out = []
    for s in specs:
        lo, _, hi = s.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def checkout_parent(rev, path):
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    if not os.path.isdir(os.path.join(path, ".git")):
        subprocess.run(["git", "clone", "--quiet", "--no-checkout", ROOT, path], check=True)
    git("checkout", "--quiet", "--detach", sha, cwd=path)
    return sha


def run(side, cwd, out, workload, seed, seconds):
    print(f"{side:6} {workload} seed {seed}", flush=True)
    with open(out, "a") as f:
        subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=cwd, stdout=f, check=False)


def named_values(path, names):
    """{(workload, seed): {name: value}} from the `  name = value unit` lines
    of concatenated run.py output, for the given names."""
    runs, current = {}, None
    with open(path) as f:
        for line in f:
            m = compare.HEADER.match(line)
            if m:
                current = runs.setdefault((m.group(1), int(m.group(2))), {})
                continue
            m = NAMED.match(line)
            if m and current is not None and m.group(1) in names:
                current[m.group(1)] = float(m.group(2))
    return runs


def print_also(parent_out, change_out, workloads, names):
    parent, change = named_values(parent_out, names), named_values(change_out, names)
    for w in workloads:
        for name in names:
            ks = sorted(k for k in parent if k[0] == w and name in parent[k]
                        and k in change and name in change[k])
            if not ks:
                continue
            pq = metrics.quartiles([parent[k][name] for k in ks])
            cq = metrics.quartiles([change[k][name] for k in ks])
            print(f"{w}: {name} (not bounded): parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
                  f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  over {len(ks)} pairs")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--parent", required=True)
    ap.add_argument("--seeds", nargs="+", default=["1-10"])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--also", nargs="+", default=[], metavar="NAME")
    a = ap.parse_args()
    work = os.path.abspath(a.workdir)
    os.makedirs(work, exist_ok=True)
    parent = os.path.join(work, "parent")
    print(f"parent {checkout_parent(a.parent, parent)} in {parent}", flush=True)
    outs = {"parent": (parent, os.path.join(work, "parent.txt")),
            "change": (ROOT, os.path.join(work, "change.txt"))}
    for i, seed in enumerate(seeds(a.seeds)):
        for w in a.workloads:
            for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
                run(side, *outs[side], w, seed, a.seconds)
    rc = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "compare.py"),
                         outs["parent"][1], outs["change"][1]]).returncode
    sys.stdout.flush()
    print_also(outs["parent"][1], outs["change"][1], a.workloads, a.also)
    return rc


if __name__ == "__main__":
    sys.exit(main())
