"""Pure metric arithmetic of the benchmark: percentiles with the tail rule,
the live path's file-to-batch latency mapping and its open-loop validity
rule, and the paired-comparison verdict. No I/O except reading checkpoint
directories; every function here is covered by selftest.py."""

import json
import math
import os
import statistics

# A tail percentile is reported only when at least this many samples lie beyond it.
TAIL_SAMPLES = 10


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, q):
    """Nearest-rank q-quantile (0 < q < 1), or None when fewer than
    TAIL_SAMPLES samples lie beyond it."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(q * len(s)))
    if len(s) - rank < TAIL_SAMPLES:
        return None
    return s[rank - 1]


def read_source_log(ckpt):
    """{landing file name: batch id} from a file-stream checkpoint's
    sources/0 log, compacted files included."""
    out = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def read_commit_times(ckpt):
    """{batch id: commit time in epoch microseconds} from the modification
    times of a checkpoint's commits/<id> files."""
    out = {}
    d = os.path.join(ckpt, "commits")
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns // 1000
    return out


def landing_name(file_no):
    return f"f{file_no:05d}.parquet"


def file_latencies(releases, source_logs, commit_times):
    """Release-to-commit latency per released file.

    releases: [{"file": int, "dueUs": int, ...}]
    source_logs / commit_times: {query: {...}} as read above.
    Returns ({file: {query: latency_ms}}, [file numbers never committed]).
    A file's latency for one query is the commit time of the batch that
    read it minus the time the file was due for release."""
    lat, missing = {}, []
    for r in releases:
        name = landing_name(r["file"])
        per = {}
        for q in source_logs:
            b = source_logs[q].get(name)
            t = commit_times[q].get(b) if b is not None else None
            if t is None:
                break
            per[q] = (t - r["dueUs"]) / 1000.0
        if len(per) == len(source_logs):
            lat[r["file"]] = per
        else:
            missing.append(r["file"])
    return lat, missing


def backlog_samples(releases, lat_all_ms):
    """Released-but-uncommitted file count sampled at each release time.
    lat_all_ms: {file: latency until every query committed it}."""
    done = sorted(r["dueUs"] + lat_all_ms[r["file"]] * 1000 for r in releases if r["file"] in lat_all_ms)
    out = []
    for i, r in enumerate(releases):
        t = r["dueUs"]
        released = i + 1
        committed = sum(1 for d in done if d <= t)
        out.append(released - committed)
    return out


def open_loop_validity(late_ms_max, tick_ms, latencies_ms):
    """Reasons the steady phase is invalid, empty when it is valid.

    The release thread must never run more than one tick late, and the
    backlog must not grow. At a fixed release rate the backlog is the rate
    times the latency (Little's law), so growth shows as latency rising over
    the phase: the median of the last third may exceed the median of the
    first third by at most half, plus two ticks. Thirds of a long phase span
    several micro-batches, which smooths the saw-tooth each batch boundary
    makes; a phase of three to five files compares its first and last file.
    latencies_ms: per released file, in release order."""
    reasons = []
    if late_ms_max > tick_ms:
        reasons.append(f"release thread ran {late_ms_max:.1f} ms late (tick {tick_ms} ms)")
    if len(latencies_ms) >= 3:
        k = len(latencies_ms) // 3
        first, last = statistics.median(latencies_ms[:k]), statistics.median(latencies_ms[-k:])
        if last > 1.5 * first + 2 * tick_ms:
            reasons.append(f"backlog grew: median latency rose from {first:.0f} ms to {last:.0f} ms")
    return reasons


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Paired verdict on one metric (choosing-metrics sections 6.5 and 8).

    parent, change: values of alternating runs, paired by index; `better`
    is "higher" or "lower"; `bound` the share by which the metric may worsen.
    Returns (verdict, share of pairs the change won):
      'gain'        the change won at least 9/10 of all pairs (ties count
                    for neither) and the medians differ by more than the
                    parent's interquartile range;
      'unresolved'  the parent's spread (IQR / median) is wider than the
                    bound, unless every change run beats every parent run;
      'no change within bound'  the change's median is at most `bound`
                    worse than the parent's;
      'regression'  otherwise."""
    n = min(len(parent), len(change))
    if n == 0:
        return "unresolved", 0.0
    parent, change = list(parent[:n]), list(change[:n])
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, _, q3 = quartiles(parent)
    iqr = q3 - q1
    if wins >= 0.9 * n and sign * (mc - mp) > iqr:
        return "gain", wins / n
    if all(sign * (c - p) > 0 for p in parent for c in change):
        return "no change within bound", wins / n
    scale = abs(mp) if mp else 1.0
    if iqr / scale > bound:
        return "unresolved", wins / n
    if sign * (mp - mc) / scale <= bound:
        return "no change within bound", wins / n
    return "regression", wins / n
