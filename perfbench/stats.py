"""Turns one run's raw record into the benchmark's metrics."""
import math
import statistics

# (name, unit), in report order; BENCHMARK.json lists the same names.
END_TO_END = [
    ("setup_s", "s"),
    ("total_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("retained_heap_mb", "MiB"),
]

SKETCH_KINDS = ["bloom", "cms", "cms_builtin", "cuckoo"]
PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("spark.codegen.compiles", "count"), ("spark.codegen.compile_s", "s"),
    ("spark.scheduler.jobs", "count"), ("spark.scheduler.stages", "count"),
    ("spark.scheduler.tasks", "count"), ("spark.scheduler.aqe_updates", "count"),
    ("spark.scheduler.wait_s", "s"),
    ("spark.exec.task_s", "s"), ("spark.exec.cpu_s", "s"), ("spark.exec.parallel_eff", "ratio"),
    ("spark.exec.input_bytes", "bytes"), ("spark.exec.shuffle_bytes", "bytes"),
    ("spark.exec.spill_bytes", "bytes"), ("spark.exec.gc_s", "s"),
    ("spark.exec.failed_tasks", "count"),
    ("index.builds", "count"), ("index.build_s", "s"), ("index.timed_builds", "count"),
    ("index.block_mb", "MiB"),
    ("streaming.batches", "count"), ("streaming.batch_p50_ms", "ms"),
    ("streaming.batch_max_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.start_ms", "ms"),
    ("streaming.input_rows", "rows"),
    ("streaming.state.stores", "count"), ("streaming.state.rows_total", "rows"),
    ("streaming.state.rows_updated", "rows"), ("streaming.state.memory_bytes", "bytes"),
    ("streaming.state.commit_ms", "ms"), ("streaming.state.update_ms", "ms"),
] + [(f"sketches.{k}.{m}", u) for k in SKETCH_KINDS
     for m, u in (("build_s", "s"), ("probe_s", "s"), ("probe_lit_s", "s"), ("bytes", "bytes"))] + [
    ("sketches.cuckoo.load", "ratio"), ("sketches.cuckoo.dropped", "count"),
    ("build_rows_per_s", "rows/s"), ("probe_rows_per_s", "rows/s"),
    ("bloom_fpp_ratio", "ratio"), ("cms_violation_rate", "fraction"),
    ("sketch_bytes", "bytes"),
    ("jvm.gc_s", "s"),
    ("error_rate", "fraction"),
    ("trace.total_s", "s"), ("trace.coverage", "ratio"), ("trace.self_s", "s"),
]

MIN_BEYOND = 10


def tail(values):
    """The highest percentile with at least MIN_BEYOND samples above it:
    the (n - MIN_BEYOND)-th smallest of n. Returns (percentile, value,
    samples beyond). Below 2 * MIN_BEYOND samples that would fall under the
    median, and the median is returned with the count above it."""
    xs = sorted(values)
    n = len(xs)
    k = n - MIN_BEYOND
    if k < math.ceil(n / 2):
        return 50.0, statistics.median(xs), n // 2
    return 100.0 * k / n, xs[k - 1], MIN_BEYOND


def summarize(result):
    calls = result["calls"]
    timed = [c for c in calls if c["pass"] >= result.get("warm_passes", 0)]
    walls = [c["wall_s"] for c in timed]
    by_call = {}
    for c in timed:
        by_call.setdefault(c["name"], []).append(c["wall_s"])
    p, tail_v, beyond = tail(walls)
    failed = sum(1 for c in calls if "error" in c)
    return {
        "setup_s": statistics.median(result["setup_s"]),
        # every timed pass makes the same calls: one pass, each call at its median
        "total_s": sum(statistics.median(v) for v in by_call.values()),
        "latency_p50_s": statistics.median(walls),
        "latency_tail_s": tail_v,
        "retained_heap_mb": result["heap_mb"],
        "tail_percentile": p,
        "tail_beyond": beyond,
        "samples": len(walls),
        "passes": len({c["pass"] for c in timed}),
        "attempted": len(calls),
        "failed": failed,
        "error_rate": failed / len(calls),
    }


def per_layer(summary, result):
    layers = dict(result.get("layers", {}))
    layers["error_rate"] = summary["error_rate"]
    layers["trace.total_s"] = summary["total_s"]
    return {name: float(layers.get(name, 0.0)) for name, _ in PER_LAYER}


def report(summary, result, workload, trace):
    s = summary
    out = [f"workload {workload}: {s['attempted']} calls in {s['passes']} passes, "
           f"{s['failed']} failed, error_rate {s['error_rate']:.4f}"]
    for name, unit in END_TO_END:
        extra = ""
        if name == "latency_tail_s":
            extra = (f"  (p{s['tail_percentile']:.1f} of {s['samples']} calls, "
                     f"{s['tail_beyond']} beyond)")
        elif name == "latency_p50_s":
            extra = f"  ({s['samples']} calls)"
        elif name == "setup_s":
            extra = f"  (median of {len(result['setup_s'])} set-ups)"
        out.append(f"  {name:<18} {s[name]:>14.6f} {unit}{extra}")
    for k, v in sorted(result.get("sketch", {}).items()):
        out.append(f"  sketch {k:<28} {v:>16.6f}")
    if trace:
        for (name, unit), v in zip(PER_LAYER, per_layer(summary, result).values()):
            out.append(f"  layer {name:<32} {v:>16.6f} {unit}")
    for c in result["calls"]:
        if "error" in c:
            out.append(f"  FAILED {c['name']}: {c['error']}")
    return out


def final_line(summary, result, trace):
    if trace:
        values = per_layer(summary, result)
        units = dict(PER_LAYER)
    else:
        values = {name: summary[name] for name, _ in END_TO_END}
        units = dict(END_TO_END)
    return {
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
