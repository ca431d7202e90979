#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: catalog_sf01, ingest_stream (see perfbench/README.md).
The first run builds the library and the benchmark with sbt into
`.bench_build/`; later runs start the JVM directly. The JVM side writes raw
samples; this script checks correctness, computes the metrics, and prints
`{"correct", "attempted", "failed", "metrics"}` as the last stdout line.
`--trace 1` prints the per-layer metrics instead and writes the layers
artifact to `.bench_build/layers/`. Any failed check exits non-zero
without printing a result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "perfbench", "launch.txt")
sys.path.insert(0, HERE)

import spans  # noqa: E402

WORKLOADS = ("catalog_sf01", "ingest_stream")
JVM_TIMEOUT_S = 160
CATALOG_SF = 0.1
HEAP = "-Xmx3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"FAILED: {msg}")
    sys.exit(code)


def sources_newer_than(path):
    t = os.path.getmtime(path)
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            if any(os.path.getmtime(os.path.join(d, f)) > t for f in files):
                return True
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.getmtime(f) > t:
            return True
    return False


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library sources (build.sbt, src/main/scala/graft) are not in this checkout", 2)
    if os.path.isfile(LAUNCH) and not sources_newer_than(LAUNCH):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if p.returncode != 0 or not os.path.isfile(LAUNCH):
        fail(f"sbt build failed (exit {p.returncode})")
    log(f"built in {time.time() - t0:.0f}s")


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, run_dir, n_cpus):
    with open(LAUNCH) as f:
        lines = [ln.rstrip("\n") for ln in f if ln.strip()]
    cp, opts = lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *opts, HEAP,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dderby.system.home={run_dir}",
           f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--run-dir", run_dir, "--cpus", str(n_cpus)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n_cpus))
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"JVM did not finish within {JVM_TIMEOUT_S}s")
    finally:
        if p.poll() is None:  # timed out, or this script is being stopped
            p.kill()
            p.wait()
    if code != 0:
        fail(f"JVM exited with {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def check(result):
    """Every failed correctness check, as one line each."""
    failures = [f"check {c['name']}: {c['detail']}" for c in result.get("checks", []) if not c["ok"]]
    chk = result.get("check")
    if chk and chk["kind"] == "duckdb":
        import oracle
        failures += [f"oracle mismatch {name}: {err}" for name, err in oracle.compare(chk["data_dir"], chk["out_dir"])]
        if not failures:
            log(f"oracle: {len(result['queries'])} queries match DuckDB")
    return failures


def best_of_passes(samples, n_queries):
    """Each catalog query's fastest time over the timed passes, the rule
    `graft.Bench` uses: a noisy-neighbour window on a shared machine then
    spoils at most some passes of a query, and taking the minimum only
    discards interference, never work the query does. The pass count is
    fixed, so the minimum is always over the same number of samples."""
    return [min(samples[i::n_queries]) for i in range(n_queries)]


def end_to_end(result):
    """The end-to-end metrics and the tail percentile behind them."""
    if "queries" in result:  # catalog_sf01
        lat = best_of_passes(result["latency_ms"], len(result["queries"]))
        throughput = len(lat) / (sum(lat) / 1000)
        # ten per-query times leave no tail percentile with 10 samples
        # beyond it, so the tail is taken over every timed sample
        lat_tail, lat_p, lat_n = spans.tail(result["latency_ms"])
    else:
        lat, throughput = result["latency_ms"], result["throughput_per_s"]
        lat_tail, lat_p, lat_n = spans.tail(lat)
    metrics = {
        "setup_s": (result["session_s"] + spans.median(result["setup_reps_s"]), "s"),
        "heap_peak_mb": (result["heap_peak_mb"], "MB"),
        "latency_p50_ms": (spans.median(lat), "ms"),
        "latency_tail_ms": (lat_tail, "ms"),
        "throughput_per_s": (throughput, "1/s"),
    }
    return metrics, {"latency_tail_ms": {"percentile": lat_p, "samples": lat_n}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stopped run still stops its JVM (the finally blocks below run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()
    n_cpus = cpus()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.workload == "catalog_sf01":
            # the tables are the program's input, so their generation is
            # not part of setup_s
            import catalog_data
            catalog_data.generate(os.path.join(run_dir, "data"), args.seed, CATALOG_SF, threads=min(4, n_cpus))
        result = run_jvm(args, run_dir, n_cpus)
        failures = check(result)
        for f in failures:
            log(f)
        metrics, tails = end_to_end(result)
        if args.trace:
            import layers
            with open(os.path.join(run_dir, "trace.json")) as f:
                trace = json.load(f)
            per_layer, detail = layers.compute(args.workload, result, trace)
            out_dir = os.path.join(BUILD, "layers")
            os.makedirs(out_dir, exist_ok=True)
            artifact = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
            with open(artifact, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "cpus": n_cpus,
                           "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
                           "end_to_end_traced": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                           "tails": tails, "check_failures": failures, **detail}, f, indent=1)
            log(f"layers artifact: {os.path.relpath(artifact, ROOT)}")
            metrics = per_layer
        if failures:
            fail(f"{len(failures)} correctness check(s) failed")
        for name, t in tails.items():
            print(f"{name}: p{t['percentile']} of {t['samples']} samples")
        out = {"correct": True, "attempted": int(result["attempted"]), "failed": int(result["failed"]),
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
