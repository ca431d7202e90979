"""Per-layer metrics of a traced run.

`compute(workload, result, trace)` turns the JVM's raw trace (spans the
benchmark recorded around each call into a layer, plus Spark's job, SQL
execution and streaming-progress events) into the per-layer metrics named
in BENCHMARK.json, and the per-query or per-file rows kept in the layers
artifact. Every traced run prints every per-layer metric; a layer its
workload does not exercise reads 0.
"""
import statistics

import spans

# name -> (unit, the end-to-end metric it should move, workload)
METRICS = {
    "queries.driver_outside_jobs_s": ("s", "throughput_per_s", "catalog_sf01"),
    "queries.executor_busy_frac": ("frac", "throughput_per_s", "catalog_sf01"),
    "queries.gc_s": ("s", "throughput_per_s", "catalog_sf01"),
    "queries.executor_cpu_s": ("s", "latency_tail_ms", "catalog_sf01"),
    "queries.planning_s": ("s", "latency_p50_ms", "catalog_sf01"),
    "queries.jobs": ("count", "latency_p50_ms", "catalog_sf01"),
    "queries.tasks": ("count", "latency_p50_ms", "catalog_sf01"),
    "queries.shuffle_bytes": ("bytes", "latency_tail_ms", "catalog_sf01"),
    "queries.spill_bytes": ("bytes", "latency_tail_ms", "catalog_sf01"),
    "queries.input_bytes": ("bytes", "latency_tail_ms", "catalog_sf01"),
    "plans.graft_rules_ms": ("ms", "latency_p50_ms", "catalog_sf01"),
    "streaming.pickup_ms": ("ms", "latency_p50_ms", "ingest_stream"),
    "streaming.latest_offset_ms": ("ms", "latency_p50_ms", "ingest_stream"),
    "streaming.batch_ms": ("ms", "latency_tail_ms", "ingest_stream"),
    "streaming.files_per_batch": ("count", "latency_tail_ms", "ingest_stream"),
    "streaming.backlog_max_files": ("count", "throughput_per_s", "ingest_stream"),
    "sources.zip_read_ms": ("ms", "latency_p50_ms", "ingest_stream"),
    "pipeline.persist_ms": ("ms", "latency_p50_ms", "ingest_stream"),
    "pipeline.jobs_per_file": ("count", "throughput_per_s", "ingest_stream"),
    "pipeline.driver_outside_jobs_ms": ("ms", "throughput_per_s", "ingest_stream"),
    "pipeline.synced_p50_ms": ("ms", "none: landing to rows in Derby, the sync job's own end-to-end time",
                               "ingest_stream"),
    "pipeline.sync_wait_ms": ("ms", "pipeline.synced_p50_ms", "ingest_stream"),
    "pipeline.sync_tick_ms": ("ms", "pipeline.synced_p50_ms", "ingest_stream"),
    "pipeline.jdbc_write_ms": ("ms", "pipeline.synced_p50_ms (small share)", "ingest_stream"),
    "gen.late_max_ms": ("ms", "none: checks the generator kept its schedule", "ingest_stream"),
}


def _sum(rows, key):
    return sum(r[key] for r in rows)


def catalog(result, trace):
    """Per pass over the query list: each query is one span, and its jobs
    and SQL executions are the ones that started inside it (one client)."""
    qspans = [s for s in trace["spans"] if s["layer"] == "queries"]
    passes = max(1, len({s["pass"] for s in qspans}))
    cpus = trace["cpus"]
    rows = {}
    tot = {"wall_ms": 0.0, "outside_ms": 0.0, "jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
           "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0, "planning_ms": 0.0, "graft_rules_ms": 0.0}
    for s in qspans:
        span = (s["start"], s["end"])
        js = spans.jobs_in(trace["jobs"], span)
        sq = [x for x in trace["sql"] if spans.contains(span, x["start"])]
        r = {"wall_ms": span[1] - span[0], "outside_ms": spans.outside(span, [spans.job_interval(j) for j in js]),
             "jobs": len(js), "tasks": _sum(js, "tasks"), "run_ms": _sum(js, "run_ms"),
             "cpu_ns": _sum(js, "cpu_ns"), "gc_ms": _sum(js, "gc_ms"), "shuffle_bytes": _sum(js, "shuffle_bytes"),
             "spill_bytes": _sum(js, "spill_bytes"), "input_bytes": _sum(js, "input_bytes"),
             "planning_ms": _sum(sq, "planning_ms"), "graft_rules_ms": _sum(sq, "graft_rules_ms")}
        acc = rows.setdefault(s["name"], {k: 0 for k in r})
        for k, v in r.items():
            acc[k] += v / passes
            tot[k] += v / passes
    metrics = {
        "queries.driver_outside_jobs_s": tot["outside_ms"] / 1000,
        "queries.executor_busy_frac": tot["run_ms"] / (tot["wall_ms"] * cpus) if tot["wall_ms"] else 0.0,
        "queries.gc_s": tot["gc_ms"] / 1000,
        "queries.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "queries.planning_s": tot["planning_ms"] / 1000,
        "queries.jobs": tot["jobs"],
        "queries.tasks": tot["tasks"],
        "queries.shuffle_bytes": tot["shuffle_bytes"],
        "queries.spill_bytes": tot["spill_bytes"],
        "queries.input_bytes": tot["input_bytes"],
        "plans.graft_rules_ms": tot["graft_rules_ms"],
    }
    detail = {"passes": passes, "per_pass": tot,
              "driver_outside_share": tot["outside_ms"] / tot["wall_ms"] if tot["wall_ms"] else 0.0,
              "queries": rows}
    return metrics, detail


def _batch_of(run_id):
    return int(run_id.split("_")[1])


def ingest(result, trace):
    """Per file of the timed phase: the file span runs from the `specFor`
    call to its later `_SUCCESS`; jobs are attributed by observed-metric
    name, or by the run thread's local property inside that window."""
    t0 = result["measure_start"]
    files = result["files"]
    jobs = [j for j in trace["jobs"] if j["start"] >= t0]
    sql = [x for x in trace["sql"] if x["start"] >= t0]
    windows = {f["run"]: (f["spec_call"], f["persisted"]) for f in files}
    by_run = spans.attribute_jobs(jobs, sql, windows)
    progress = [e for e in trace["events"] if e["kind"] == "progress" and e["start"] >= t0 - 1000]
    batch_start = {e["batch"]: e["start"] for e in progress}
    busy = [e for e in progress if e["rows"] > 0]

    rows = []
    for f in files:
        js = by_run.get(f["run"], [])
        window = windows[f["run"]]
        rows.append({
            "seq": f["seq"], "run": f["run"], "burst": f["burst"],
            "pickup_ms": batch_start.get(_batch_of(f["run"]), f["spec_call"]) - f["landed"],
            "zip_read_ms": f["enrich_first"] - f["spec_call"],
            "persist_ms": f["persisted"] - f["enrich_first"],
            "jobs": len(js),
            "driver_outside_jobs_ms": spans.outside(window, [spans.job_interval(j) for j in js]),
            "sync_wait_ms": max(0.0, f["tick_start"] - f["persisted"]),
        })
    backlog = 0
    for b in busy:
        landed = sum(1 for f in files if f["landed"] <= b["start"])
        started = sum(1 for f in files if batch_start.get(_batch_of(f["run"]), float("inf")) < b["start"])
        backlog = max(backlog, landed - started)
    med = lambda key: spans.median([r[key] for r in rows])  # noqa: E731
    span_ms = lambda name: spans.median([s["end"] - s["start"] for s in trace["spans"]  # noqa: E731
                                         if s["name"] == name and s["start"] >= t0])
    metrics = {
        "streaming.pickup_ms": med("pickup_ms"),
        "streaming.latest_offset_ms": spans.median([e["latest_offset_ms"] for e in progress]),
        "streaming.batch_ms": spans.median([e["batch_ms"] for e in busy]),
        "streaming.files_per_batch": statistics.mean([e["rows"] for e in busy]) if busy else 0.0,
        "streaming.backlog_max_files": backlog,
        "sources.zip_read_ms": med("zip_read_ms"),
        "pipeline.persist_ms": med("persist_ms"),
        "pipeline.jobs_per_file": statistics.mean([r["jobs"] for r in rows]),
        "pipeline.driver_outside_jobs_ms": med("driver_outside_jobs_ms"),
        "pipeline.synced_p50_ms": spans.median(result["synced_ms"]),
        "pipeline.sync_wait_ms": med("sync_wait_ms"),
        "pipeline.sync_tick_ms": span_ms("sync_tick"),
        "pipeline.jdbc_write_ms": span_ms("jdbc_write"),
        "gen.late_max_ms": result["late_max_ms"],
    }
    unattributed = len(jobs) - sum(len(v) for v in by_run.values())
    return metrics, {"files": rows, "jobs_in_window": len(jobs), "jobs_not_attributed_to_a_file": unattributed}


def compute(workload, result, trace):
    """Every per-layer metric as name -> (value, unit), plus detail rows."""
    fn = {"catalog_sf01": catalog, "ingest_stream": ingest}[workload]
    measured, detail = fn(result, trace)
    out = {name: (float(measured.get(name, 0.0)), unit) for name, (unit, _, _) in METRICS.items()}
    detail["predictions"] = {name: {"should_move": moves, "workload": wl} for name, (_, moves, wl) in METRICS.items()}
    return out, detail
