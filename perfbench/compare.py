#!/usr/bin/env python3
"""Paired comparison of two sets of benchmark runs.

A set of runs is a text file holding the concatenated standard output of
`perfbench/run.py` runs, for example:

    for s in 1 2 3 4 5 6 7 8 9 10; do
      (cd parent && python3 perfbench/run.py --workload point_load --seed $s --seconds 20 --trace 0) >> parent.txt
      (cd change && python3 perfbench/run.py --workload point_load --seed $s --seconds 20 --trace 0) >> change.txt
    done
    python3 perfbench/compare.py parent.txt change.txt

Alternate which side runs first from pair to pair. Runs pair up by workload
and seed. For every workload and end-to-end metric of BENCHMARK.json it
prints both medians and quartiles, the share of pairs the change won, and
the verdict of metrics.verdict: gain, no change within bound, regression or
unresolved. A gain does not count when the change failed more operations
than the parent.
"""

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

HEADER = re.compile(r"^workload (\S+)\s+seed (-?\d+)\s")


def read_runs(path):
    """{(workload, seed): result} from concatenated run.py output."""
    runs, current = {}, None
    with open(path) as f:
        for line in f:
            m = HEADER.match(line)
            if m:
                current = (m.group(1), int(m.group(2)))
            elif line.startswith("{") and current is not None:
                runs[current] = json.loads(line)
                current = None
    return runs


def main():
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent, change = read_runs(sys.argv[1]), read_runs(sys.argv[2])
    for w in [w["name"] for w in spec["workloads"]]:
        keys = sorted(k for k in parent if k[0] == w and k in change)
        if not keys:
            continue
        pf = sum(parent[k]["failed"] for k in keys)
        cf = sum(change[k]["failed"] for k in keys)
        print(f"{w}: {len(keys)} pairs, failed ops parent {pf} change {cf}")
        for m in spec["end_to_end"]:
            name = m["name"]
            ks = [k for k in keys if name in parent[k]["metrics"] and name in change[k]["metrics"]]
            p = [parent[k]["metrics"][name]["value"] for k in ks]
            c = [change[k]["metrics"][name]["value"] for k in ks]
            if not ks:
                print(f"  {name}: no paired values")
                continue
            v, won = metrics.verdict(p, c, m["better"], m["bound"])
            if v == "gain" and cf > pf:
                v = "gain not counted: more failed operations"
            pq, cq = metrics.quartiles(p), metrics.quartiles(c)
            print(f"  {name} [{m['unit']}, {m['better']} is better, bound {m['bound']}]: "
                  f"parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
                  f"won {won:.0%} of {len(ks)}  -> {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
