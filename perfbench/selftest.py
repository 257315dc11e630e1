"""The benchmark's own checks on synthetic inputs: the tail-sample rule, the
file-to-batch latency mapping read from checkpoint files, the open-loop
validity rule, and the paired-comparison verdict. `run.py --selftest` runs
these and then the JVM-side checks (generator determinism per seed, digests
equal to Spark's)."""

import json
import os
import tempfile

import metrics


def check(name, ok):
    print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if ok else 1


def write_checkpoint(root, batches, commit_us):
    """A file-stream checkpoint: sources/0/<batch> logs listing the files of
    each batch (the tenth one compacted, as Spark does), and commits/<batch>
    files dated at the given commit times."""
    os.makedirs(os.path.join(root, "sources", "0"))
    os.makedirs(os.path.join(root, "commits"))
    for b, files in enumerate(batches):
        name = f"{b}.compact" if b == 9 else str(b)
        with open(os.path.join(root, "sources", "0", name), "w") as f:
            f.write("v1\n")
            for fn in files:
                f.write(json.dumps({"path": f"file:///landing/{fn}", "timestamp": 0, "batchId": b}) + "\n")
        c = os.path.join(root, "commits", str(b))
        with open(c, "w") as f:
            f.write("v1\n{}\n")
        os.utime(c, ns=(commit_us[b] * 1000, commit_us[b] * 1000))
    with open(os.path.join(root, "commits", ".0.crc"), "w") as f:
        f.write("x")


def run_all(scratch):
    """Run every check; `scratch` is a directory for temporary files."""
    failures = 0
    # tail rule: p90 of 100 samples has exactly 10 beyond it; of 99 it has 9
    xs = list(range(1, 101))
    failures += check("tail p90 reported with 10 samples beyond", metrics.percentile(xs, 0.9) == 90)
    failures += check("tail p90 withheld with 9 samples beyond", metrics.percentile(xs[:99], 0.9) is None)
    failures += check("tail p95 withheld at 100 samples", metrics.percentile(xs, 0.95) is None)
    failures += check("tail p95 reported at 200 samples", metrics.percentile(list(range(1, 201)), 0.95) == 190)
    failures += check("median", metrics.median([3.0, 1.0, 2.0]) == 2.0)

    # latency mapping: two queries, files released 100 ms apart, batches committed later
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        rel = [{"file": f, "dueUs": 1_000_000 + f * 100_000} for f in range(12)]
        names = [metrics.landing_name(f) for f in range(12)]
        a_batches = [names[0:3], names[3:6], names[6:12]] + [[]] * 7
        a_commits = [1_500_000, 2_000_000, 3_000_000] + [3_100_000 + i for i in range(7)]
        b_batches = [names[0:1]] + [[]] * 8 + [names[1:12]]
        b_commits = [1_200_000] + [1_300_000 + i for i in range(8)] + [4_000_000]
        write_checkpoint(os.path.join(d, "a"), a_batches, a_commits)
        write_checkpoint(os.path.join(d, "b"), b_batches, b_commits)
        logs = {q: metrics.read_source_log(os.path.join(d, q)) for q in "ab"}
        commits = {q: metrics.read_commit_times(os.path.join(d, q)) for q in "ab"}
        failures += check("source log maps files to batches, compacted log included",
                          logs["a"][names[7]] == 2 and logs["b"][names[5]] == 9)
        failures += check("commit times read from commit file dates, crc files skipped",
                          commits["a"][0] == 1_500_000 and len(commits["b"]) == 10)
        lat, missing = metrics.file_latencies(rel + [{"file": 99, "dueUs": 0}], logs, commits)
        failures += check("latency of file 0 per query", lat[0] == {"a": 500.0, "b": 200.0})
        failures += check("latency of file 7 per query", lat[7] == {"a": 1300.0, "b": 2300.0})
        failures += check("a released file never read is reported missing", missing == [99])
        all_ms = {f: max(v.values()) for f, v in lat.items()}
        backlog = metrics.backlog_samples(rel, all_ms)
        failures += check("backlog counts released files not yet committed by every query",
                          backlog[0] == 1 and backlog[11] == 11)

    # open-loop validity
    failures += check("valid steady phase", metrics.open_loop_validity(10.0, 100, [900, 1000] * 30) == [])
    failures += check("late release thread is invalid", len(metrics.open_loop_validity(150.0, 100, [1000] * 60)) == 1)
    failures += check("growing latency is invalid",
                      len(metrics.open_loop_validity(1.0, 100, [1000 + 100 * i for i in range(60)])) == 1)
    failures += check("short steady phase: flat latency is valid",
                      metrics.open_loop_validity(1.0, 4000, [1700, 1600, 1800, 1650, 1750]) == [])
    failures += check("short steady phase: growing latency is invalid",
                      len(metrics.open_loop_validity(1.0, 4000, [1700, 4000, 7000, 9000, 11000])) == 1)

    # verdict rule
    parent = [100, 102, 98, 101, 99, 100, 103, 97, 100, 101]
    faster = [p - 20 for p in parent]
    failures += check("gain: 10/10 pairs won, medians apart by more than the IQR",
                      metrics.verdict(parent, faster, "lower", 0.1)[0] == "gain")
    failures += check("no change within bound", metrics.verdict(parent, list(reversed(parent)), "lower", 0.1)[0]
                      == "no change within bound")
    failures += check("regression beyond bound", metrics.verdict(parent, [p + 30 for p in parent], "lower", 0.1)[0]
                      == "regression")
    noisy = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
    failures += check("unresolved when the spread exceeds the bound",
                      metrics.verdict(noisy, [n + 5 for n in noisy], "lower", 0.1)[0] == "unresolved")
    failures += check("8 of 10 pairs is not a gain",
                      metrics.verdict(parent, [p - 20 for p in parent[:8]] + [105, 105], "lower", 0.1)[0] != "gain")
    failures += check("higher-is-better gain", metrics.verdict(parent, [p + 20 for p in parent], "higher", 0.1)[0]
                      == "gain")
    return failures
