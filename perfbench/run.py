#!/usr/bin/env python3
"""Benchmark of the event store: builds the engine with the harness in this
directory, runs one seeded workload in one JVM at local[$SPARK_GRAFT_CPUS]
(capped at nproc), checks every output, and prints the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload point_load --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Build outputs go to .bench_build/, run
outputs (JVM log, raw measurements, trace) to .bench_out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
# Class-data-sharing archive of the classes a Spark session loads, dumped once
# per build; it halves JVM and session start-up. A stale or unusable archive
# only costs the JVM a warning and the start-up time it would have saved.
CDS = os.path.join(BUILD, "perfbench.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 165
# Task threads when $SPARK_GRAFT_CPUS is unset, and JVM flags with no parallel
# GC threads and no C2 compiler. Fewer task, GC and JIT threads than cores keep
# the JVM from competing with itself and with whatever else shares the
# machine; at local[4] with the default collector and compilers, runs of the
# same code spread 20-35%. See README.md.
DEFAULT_CPUS = 2
JVM_FLAGS = ["-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1"]
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, cwd, log_path, timeout, env=None, during=None):
    """Run a child process with its output in `log_path`, calling
    `during(proc)` while it runs; kill it and wait for it on timeout, on
    SIGTERM/SIGINT, or on any other error. Returns the exit code, or None on
    timeout."""
    started = time.monotonic()
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            if during:
                during(proc)
            return proc.wait(timeout=max(1.0, timeout - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def source_files():
    out = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(base):
            out.append(base)
        for d, _, fs in sorted(os.walk(base)):
            out.extend(os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala"))
    return out


def build():
    """Compile the engine and the harness unless the sources are unchanged
    since the last build in this checkout."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(JAR) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(OUT, "build.log")
    try:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE, log, BUILD_TIMEOUT_S, env)
    except OSError as e:
        die(f"build failed: {e} (log: {log})", 3)
    if rc != 0 or not os.path.isdir(CLASSES):
        die(f"build failed with exit code {rc} (log: {log})", 3)
    # class-data sharing archives classes from jars only
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(CLASSES)):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    if os.path.exists(CDS):
        os.remove(CDS)
    raw, work = run_jvm("selfcheck", 7, 0, 0, "cds-dump", ["-XX:ArchiveClassesAtExit=" + CDS])
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def cpus():
    """$SPARK_GRAFT_CPUS capped at nproc, or DEFAULT_CPUS when unset."""
    n = os.cpu_count() or 1
    want = os.environ.get("SPARK_GRAFT_CPUS")
    return max(1, min(n, int(want))) if want and want.isdigit() else min(n, DEFAULT_CPUS)


def release_live(proc, control):
    """The live_ingest load generator, a process apart from the JVM under
    test so its schedule does not stall when the JVM pauses. It moves the
    staged files the JVM lists in control/plan.json into the landing
    directory: the warm-up files one per warm-up tick and the warm-up
    bursts, then (after the JVM drained them) the steady files one per tick
    on a schedule fixed up front, then each burst's directory of files in one
    rename. Marker files in `control` step both sides through the phases.
    Returns the release records and the due time of the first file of each
    measured phase ("a", and "b" for a traced run)."""
    def wait_for(name):
        path, end = os.path.join(control, name), time.monotonic() + 150
        while not os.path.exists(path):
            if proc.poll() is not None or time.monotonic() > end:
                raise RuntimeError(f"live_ingest JVM never reached '{name}'")
            time.sleep(0.002)

    def signal(name):
        open(os.path.join(control, name), "w").close()

    wait_for("plan.json")
    with open(os.path.join(control, "plan.json")) as f:
        plan = json.load(f)
    releases = []

    def record(f, burst, due_us):
        releases.append({"file": f, "burst": burst, "dueUs": due_us, "actualUs": time.time_ns() // 1000,
                         "events": plan["events"][f]})

    def steady(lo, hi, tick_ms):
        tick = tick_ms * 1000
        base_mono, base_us = time.monotonic_ns() // 1000 + tick, time.time_ns() // 1000 + tick
        for k, f in enumerate(range(lo, hi)):
            wait = base_mono + k * tick - time.monotonic_ns() // 1000
            if wait > 0:
                time.sleep(wait / 1e6)
            os.rename(plan["files"][str(f)], os.path.join(plan["landing"], metrics.landing_name(f)))
            record(f, -1, base_us + k * tick)
        return base_us

    warm, n, bf, wb = plan["warmup_files"], plan["steady_files"], plan["burst_files"], plan["warmup_bursts"]

    def burst(d, tag):
        at = time.time_ns() // 1000
        os.rename(plan["burst_dirs"][d], os.path.join(plan["landing"], f"burst{d}"))
        for f in range(n + d * bf, n + (d + 1) * bf):
            record(f, tag, at)

    steady(0, warm, plan["warmup_tick_ms"])
    for d in range(wb):
        burst(d, -2)
    signal("warmup")
    wait_for("drained-warmup")
    phases = {}
    if plan["traced"]:
        half = warm + (n - warm) // 2
        phases["a"] = steady(warm, half, plan["tick_ms"])
        signal("phase-b")
        phases["b"] = steady(half, n, plan["tick_ms"])
    else:
        phases["a"] = steady(warm, n, plan["tick_ms"])
    signal("steady")
    wait_for("drained-steady")
    for k in range(plan["bursts"]):
        burst(wb + k, k)
        signal(f"burst{k}")
        wait_for(f"drained-burst{k}")
    return {"releases": releases, "phase_start_us": phases}


def log_tail(log):
    with open(log, errors="replace") as f:
        return f"(log: {log})\n" + f.read()[-3000:]


def run_jvm(workload, seed, seconds, trace, tag, jvm_flags=()):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must name a Spark distribution with a jars/ directory", 2)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    work = os.path.join(OUT, "work-" + tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(OUT, f"raw-{tag}.json")
    if os.path.exists(raw):
        os.remove(raw)
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + JVM_FLAGS + list(jvm_flags)
    if not jvm_flags and os.path.exists(CDS):
        cmd.append("-XX:SharedArchiveFile=" + CDS)
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--out", raw, "--work", work, "--cpus", str(cpus())]
    log = os.path.join(OUT, f"jvm-{tag}.log")
    generated = {}
    during = None
    if workload == "live_ingest":
        control = os.path.join(work, "live", "control")

        def during(proc):
            generated.update(release_live(proc, control))
    try:
        rc = run_child(cmd, ROOT, log, JVM_TIMEOUT_S, during=during)
    except (OSError, RuntimeError, ValueError, KeyError) as e:
        die(f"{workload} release process failed: {e}\n{log_tail(log)}", 4)
    if rc is None:
        die(f"{workload} did not finish within {JVM_TIMEOUT_S} s (log: {log})", 4)
    if rc != 0 or not os.path.exists(raw):
        die(f"{workload} JVM exited with {rc}\n{log_tail(log)}", 4)
    with open(raw) as f:
        out = json.load(f)
    if generated:
        out["live"].update(generated)
    return out, work


def ms_of(ops, kind=None, phase=None):
    return [o["ms"] for o in ops if (kind is None or o["kind"] == kind) and (phase is None or o["phase"] == phase)]


def overhead(a, b):
    ma, mb = metrics.median(a), metrics.median(b)
    return (mb / ma - 1.0) if ma and mb else 0.0


def analyse_point_load(raw):
    ops = raw["ops"]
    loads = ms_of(ops, "load")
    e2e = {
        "setup_s": raw["setup_s"],
        "throughput_per_s": len(ops) / (sum(ms_of(ops)) / 1000.0),
        "latency_p50_ms": metrics.median(loads),
        "store_bytes_per_user_byte": raw["store"]["bytes_per_user_byte"],
        "heap_live_mb": raw["heap_live_mb"],
    }
    named = [
        ("point_ops_per_s", e2e["throughput_per_s"], "op/s", len(ops)),
        ("load_p50_ms", e2e["latency_p50_ms"], "ms", len(loads)),
        ("load_p90_ms", metrics.percentile(loads, 0.9), "ms", len(loads)),
        ("page_p50_ms", metrics.median(ms_of(ops, "page")), "ms", len(ms_of(ops, "page"))),
        ("point_p50_ms", metrics.median(ms_of(ops, "point")), "ms", len(ms_of(ops, "point"))),
        ("index_range_p50_ms", metrics.median(ms_of(ops, "range")), "ms", len(ms_of(ops, "range"))),
    ]
    layers = dict(raw.get("layers", {}))
    layers["trace_overhead"] = overhead(ms_of(ops, "load", "a"), ms_of(ops, "load", "b"))
    return e2e, named, layers, []


def analyse_replay(raw):
    ops, cycles = raw["ops"], raw["cycles"]
    types = ms_of(ops, "replay_type")
    eps = sum(c["events"] for c in cycles) / (sum(c["ms"] for c in cycles) / 1000.0)
    e2e = {
        "setup_s": raw["setup_s"],
        "throughput_per_s": eps,
        "latency_p50_ms": metrics.median(types),
        "store_bytes_per_user_byte": raw["store"]["bytes_per_user_byte"],
        "heap_live_mb": raw["heap_live_mb"],
    }
    named = [
        ("replay_events_per_s", eps, "ev/s", len(cycles)),
        ("replay_type_p50_ms", e2e["latency_p50_ms"], "ms", len(types)),
        ("replay_full_p50_ms", metrics.median(ms_of(ops, "replay_full")), "ms", len(ms_of(ops, "replay_full"))),
        ("counters_fold_p50_ms", metrics.median(ms_of(ops, "counters")), "ms", len(ms_of(ops, "counters"))),
    ]
    layers = dict(raw.get("layers", {}))
    layers["trace_overhead"] = overhead(ms_of(ops, "replay_type", "a"), ms_of(ops, "replay_type", "b"))
    return e2e, named, layers, []


def analyse_live(raw):
    live = raw["live"]
    queries = sorted(live["checkpoints"])
    logs = {q: metrics.read_source_log(live["checkpoints"][q]) for q in queries}
    commits = {q: metrics.read_commit_times(live["checkpoints"][q]) for q in queries}
    rel = live["releases"]
    lat, missing = metrics.file_latencies(rel, logs, commits)
    problems = [f"{len(missing)} released files were never committed by all three queries"] if missing else []
    steady = [r for r in rel if r["burst"] == -1 and r["file"] >= live["warmup_files"]]
    all_ms = {f: max(per.values()) for f, per in lat.items()}
    starts = live["phase_start_us"]
    b_start = starts.get("b")
    a = [all_ms[r["file"]] for r in steady if r["file"] in all_ms and (b_start is None or r["dueUs"] < b_start)]
    b = [all_ms[r["file"]] for r in steady if r["file"] in all_ms and b_start is not None and r["dueUs"] >= b_start]
    samples = a + b
    late_ms_max = max((r["actualUs"] - r["dueUs"]) / 1000.0 for r in steady)
    backlog = metrics.backlog_samples(steady, all_ms)
    problems += metrics.open_loop_validity(
        late_ms_max, live["tick_ms"], [all_ms[r["file"]] for r in steady if r["file"] in all_ms])
    drains = []
    for k in range(live["bursts"]):
        burst = [r for r in rel if r["burst"] == k]
        drain_s = max(all_ms.get(r["file"], 0.0) for r in burst) / 1000.0
        drains.append(sum(r["events"] for r in burst) / drain_s if drain_s > 0 else 0.0)
    drain_eps = metrics.median(drains)
    e2e = {
        "setup_s": raw["setup_s"],
        "throughput_per_s": drain_eps,
        "latency_p50_ms": metrics.median(samples),
        "store_bytes_per_user_byte": raw["store"]["bytes_per_user_byte"],
        "heap_live_mb": raw["heap_live_mb"],
    }
    named = [
        ("live_lat_p50_ms", e2e["latency_p50_ms"], "ms", len(samples)),
        ("live_lat_p90_ms", metrics.percentile(samples, 0.9), "ms", len(samples)),
        ("live_lat_p95_ms", metrics.percentile(samples, 0.95), "ms", len(samples)),
        ("live_drain_eps", drain_eps, "ev/s", len(drains)),
        ("live_drain_eps_per_burst", drains, "ev/s", len(drains)),
        ("live_rate_eps", live["rate_eps"], "ev/s", len(steady)),
        ("gen.late_ms_max", late_ms_max, "ms", len(steady)),
        ("streaming.backlog_files_max", max(backlog) if backlog else 0, "count", len(backlog)),
    ]
    layers = dict(raw.get("layers", {}))
    for q in queries:
        layers[f"streaming.{q}.lat_p50_ms"] = metrics.median(
            [lat[r["file"]][q] for r in steady if r["file"] in lat and (b_start is None or r["dueUs"] >= b_start)])
    layers["streaming.backlog_files_max"] = max(backlog) if backlog else 0
    layers["gen.late_ms_max"] = late_ms_max
    layers["trace_overhead"] = overhead(a, b)
    # per-file latencies, kept for inspection next to the raw measurements
    raw["live"]["file_latency_ms"] = {str(f): per for f, per in sorted(lat.items())}
    return e2e, named, layers, problems


ANALYSE = {"point_load": analyse_point_load, "replay_rebuild": analyse_replay, "live_ingest": analyse_live}


def selftest():
    import selftest as st
    os.makedirs(OUT, exist_ok=True)
    failures = st.run_all(OUT)
    build()
    raw, work = run_jvm("selfcheck", 7, 0, 0, "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    for k, ok in raw.items():
        print(f"{'ok  ' if ok else 'FAIL'} jvm.{k}")
        failures += 0 if ok else 1
    print(f"selftest: {failures} failure(s)")
    return 1 if failures else 0


def terminate(signum, frame):
    """A SIGTERM unwinds like Ctrl-C, so run_child stops the JVM or sbt it started."""
    raise KeyboardInterrupt


def main():
    signal.signal(signal.SIGTERM, terminate)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}; run from a full checkout", 2)
    if args.selftest:
        sys.exit(selftest())
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        die(f"cannot read BENCHMARK.json: {e}", 2)
    # replay_rebuild runs by hand; BENCHMARK.json does not declare it
    if args.workload not in ANALYSE:
        die(f"unknown workload {args.workload!r}", 2)
    if args.seconds < 1:
        die("--seconds must be at least 1", 2)

    t0 = time.time()
    build()
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    raw, work = run_jvm(args.workload, args.seed, args.seconds, args.trace, tag)
    e2e, named, layers, problems = ANALYSE[args.workload](raw)
    with open(os.path.join(OUT, f"raw-{tag}.json"), "w") as f:
        json.dump(raw, f)
    shutil.rmtree(work, ignore_errors=True)

    # the live path's mapping and open-loop validity count as one more check
    attempted = int(raw["attempted"]) + (1 if args.workload == "live_ingest" else 0)
    failed = int(raw["failed"]) + (1 if problems else 0)
    failures = list(raw["failures"]) + problems
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}  "
          f"cpus {raw['cpus']}  wall {time.time() - t0:.1f} s")
    print(f"  setup_s = {raw['setup_s']:.4f} s  (session {raw['session_s']:.3f} s + median of set-ups "
          f"{', '.join(f'{x:.3f}' for x in raw['setups_s'])})")
    for name, v, unit, n in named:
        shown = (f"{', '.join(f'{x:.1f}' for x in v)} {unit}" if isinstance(v, list) else
                 f"{v:.4f} {unit}" if v is not None else f"n/a (needs >= {metrics.TAIL_SAMPLES} samples beyond it)")
        print(f"  {name} = {shown}  [n={n}]")
    print(f"  store_bytes_per_user_byte = {e2e['store_bytes_per_user_byte']:.4f} ratio  {json.dumps(raw['store'])}")
    print(f"  peak_rss_mb = {raw['peak_rss_mb']:.1f} MB")
    print(f"  heap_live_mb = {raw['heap_live_mb']:.1f} MB")
    print(f"  failed_ratio = {failed / attempted:.4f} ratio  ({failed} of {attempted} ops and checks)")
    for m in failures:
        print(f"  FAILED: {m}")

    if args.trace:
        out = {m["name"]: layers.get(m["name"], 0.0) or 0.0 for m in spec["per_layer"]}
        trace_file = os.path.join(OUT, f"trace-{tag}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": layers,
                       "layers_by_kind": raw.get("layers_by_kind", {}), "spans": raw.get("spans", [])}, f, indent=1)
        for k in sorted(layers):
            print(f"  layer {k} = {layers[k]}")
        print(f"  trace written to {os.path.relpath(trace_file, ROOT)}")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        out = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if problems:
            # an invalid open-loop run reports no latency
            out.pop("latency_p50_ms", None)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out.items() if v is not None},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
