"""Metric catalogue and the reduction of one run's record to metrics.

Warm latencies and counts are medians over the measured passes. CPU,
JIT and GC seconds and codegen compiles are costs, so they are the total
over the measured passes divided by their number: a JIT burst in one
pass is paid for, not voted out, and the CPU splits add up to
``warm_pass_cpu_s``. Per-layer metrics are per-pass sums (or counts)
taken from a traced run, reduced the same way. ``PER_LAYER`` records,
for each per-layer metric, the end-to-end metric and workloads it is
expected to move.
"""

from __future__ import annotations

import statistics

from .trace import layer_self_times

MB = 1024.0 * 1024.0

# name -> (unit, better, bound)
END_TO_END: dict[str, tuple[str, str, float]] = {
    "setup_s": ("s", "lower", 0.25),
    "warm_pass_cpu_s": ("s", "lower", 0.25),
}

# name -> (unit, better, moves)
PER_LAYER: dict[str, tuple[str, str, str]] = {
    # Run-level timings whose spread across runs is above a tenth (see
    # EVIDENCE.md), kept here instead of in the end-to-end gate.
    "warm_pass_s": ("s", "lower", "warm pass wall time; moves with steal (host.steal_s)"),
    "setup_cpu_s": ("s", "lower", "setup CPU twin; setup_s on all workloads"),
    "cold_pass_s": ("s", "lower", "first pass in a fresh JVM; one-shot jobs"),
    "cold_pass_cpu_s": ("s", "lower", "cold pass CPU twin; cold_pass_s"),
    "query_p50_s": ("s", "lower", "warm query latency; per-query fixed cost on etl_star"),
    "session.get_spark_s": ("s", "lower", "setup_s on all workloads"),
    "registry.register_all_s": ("s", "lower", "setup_s on all workloads"),
    "loader.load_s": ("s", "lower", "setup_s on all workloads"),
    "registry.run_s": ("s", "lower", "warm_pass_s, warm_pass_cpu_s on boundary_io (and dedup_graph)"),
    "registry.run_jobs": ("count", "lower", "warm_pass_s on boundary_io (and dedup_graph); 0 on etl_star"),
    "registry.run_tasks": ("count", "lower", "warm_pass_cpu_s on boundary_io (and dedup_graph)"),
    "catalyst.analysis_s": ("s", "lower", "query_p50_s on etl_star"),
    "catalyst.optimization_s": ("s", "lower", "query_p50_s on etl_star"),
    "catalyst.planning_s": ("s", "lower", "query_p50_s on etl_star"),
    "codegen.compiles": ("count", "lower", "warm_pass_cpu_s; no workload recompiles steadily (EVIDENCE.md)"),
    "jvm.jit_s": ("s", "lower", "warm_pass_cpu_s on all workloads"),
    "jvm.gc_s": ("s", "lower", "warm_pass_cpu_s on all; heap_retained_mb"),
    "jvm.peak_rss_mb": ("MB", "lower", "diagnostic only"),
    "heap_retained_mb": ("MB", "lower", "caches builders leave pinned"),
    "exec.collect_s": ("s", "lower", "warm_pass_s on etl_star"),
    "exec.jobs": ("count", "lower", "warm_pass_s on etl_star"),
    "exec.stages": ("count", "lower", "warm_pass_s on etl_star"),
    "exec.tasks": ("count", "lower", "warm_pass_s on etl_star"),
    "exec.shuffle_write_mb": ("MB", "lower", "warm_pass_cpu_s on etl_star"),
    "exec.spill_mb": ("MB", "lower", "warm_pass_cpu_s on etl_star"),
    "exec.scan_rows": ("count", "lower", "base of exec.scan_rows_per_result_row"),
    "exec.result_rows": ("count", "higher", "base of exec.scan_rows_per_result_row"),
    "exec.scan_rows_per_result_row": ("ratio", "lower", "warm_pass_s on etl_star"),
    "python.bytes_sent_mb": ("MB", "lower", "warm_pass_s on boundary_io; 0 on etl_star"),
    "python.bytes_received_mb": ("MB", "lower", "warm_pass_s on boundary_io; 0 on etl_star"),
    "python.rows_received": ("count", "lower", "warm_pass_s on boundary_io; 0 on etl_star"),
    "cpu.jvm_s": ("s", "lower", "warm_pass_cpu_s on all workloads"),
    "cpu.driver_s": ("s", "lower", "warm_pass_cpu_s; query_p50_s on etl_star"),
    "cpu.python_workers_s": ("s", "lower", "warm_pass_cpu_s on boundary_io"),
    "cache.inmemory_scans": ("count", "lower", "warm_pass_s on boundary_io (and dedup_graph)"),
    "cache.held_mb": ("MB", "lower", "heap_retained_mb on boundary_io (and dedup_graph)"),
    "io.tmp_bytes_written": ("B", "lower", "warm_pass_s on boundary_io; files left by the pass"),
    "host.steal_s": ("s", "lower", "diagnostic only: explains wall outliers"),
    "failed_ratio": ("ratio", "lower", "correctness: failed or mismatched / attempted"),
    "query_tail_s": ("s", "lower", "warm query latency, highest rank with 10 samples above, else max"),
    "query_tail_samples": ("count", "higher", "sample count behind query_tail_s"),
    "trace.check_s": ("s", "lower", "oracle checks inside a traced pass: benchmark overhead"),
    "trace.counters_s": ("s", "lower", "counter reads after a traced pass: benchmark overhead"),
    "trace.accounted_share": (
        "ratio", "higher", "Query.run + toPandas self time / traced pass wall"),
    "trace.setup_accounted_share": (
        "ratio", "higher", "import + get_spark + register_all + load / setup wall"),
}

# The package's layers a traced span is named after; every other span
# (pass, query, check, counters) is the benchmark's own.
PASS_LAYERS = ("Query.run", "toPandas")
SETUP_LAYERS = ("import", "get_spark", "register_all", "load")


def _median(values):
    return float(statistics.median(values)) if values else 0.0


def _per_pass(passes, fn):
    return _median([fn(p) for p in passes])


def _cost_per_pass(passes, fn):
    return sum(fn(p) for p in passes) / len(passes)


def _qsum(p, fn):
    return sum(fn(q) for q in p["queries"])


def run_level(result: dict) -> dict[str, float]:
    """Metrics every run yields, traced or not."""
    passes = result["passes"]
    cold = passes[0]
    measured = [p for p in passes if p["kind"] == "measured"]
    samples = sorted(q["wall_s"] for p in measured for q in p["queries"])
    attempted = sum(len(p["queries"]) for p in passes)
    return {
        "setup_s": result["setup_s"],
        "setup_cpu_s": result["setup_cpu_s"],
        "cold_pass_s": cold["wall_s"],
        "cold_pass_cpu_s": cold["cpu"]["total"],
        "warm_pass_s": _per_pass(measured, lambda p: p["wall_s"]),
        "warm_pass_cpu_s": _cost_per_pass(measured, lambda p: p["cpu"]["total"]),
        "query_p50_s": _median(samples),
        # The highest-ranked sample that still has at least 10 samples
        # above it. Below 21 samples that rank is at or under the median,
        # so the slowest sample is reported instead.
        "query_tail_s": samples[-11] if len(samples) > 20 else samples[-1],
        "query_tail_samples": float(len(samples)),
        "heap_retained_mb": result["heap_retained_mb"],
        "failed_ratio": len(result["failures"]) / attempted,
    }


def compute(result: dict, traced: bool) -> dict[str, float]:
    """All metrics of one run: run-level ones, plus the layer ones when traced."""
    values = run_level(result)
    if not traced:
        return values
    passes = result["passes"]
    measured = [p for p in passes if p["kind"] == "measured"]
    spans = result["spans"]
    by_name: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None and spans[s["parent"]]["name"] == "setup":
            by_name[s["name"]] = s["end"] - s["start"]
    setup = next(s for s in spans if s["name"] == "setup")

    def plan(p, key):
        return _qsum(p, lambda q: q.get("plan", {}).get(key, 0.0))

    def catalyst(p, key):
        return _qsum(p, lambda q: q.get("catalyst", {}).get(key, 0.0))

    def layers(p):
        return layer_self_times(spans, p["span_id"])

    def accounted(p):
        ls = layers(p)
        wall = spans[p["span_id"]]["end"] - spans[p["span_id"]]["start"]
        return sum(ls.get(name, 0.0) for name in PASS_LAYERS) / wall

    def counters_s(p):
        s = spans[p["counters_span_id"]]
        return s["end"] - s["start"]

    values.update({
        "session.get_spark_s": by_name["get_spark"],
        "registry.register_all_s": by_name["register_all"],
        "loader.load_s": by_name["load"],
        "registry.run_s": _per_pass(measured, lambda p: _qsum(p, lambda q: q["run_s"])),
        "registry.run_jobs": _per_pass(measured, lambda p: _qsum(p, lambda q: q["run_jobs"])),
        "registry.run_tasks": _per_pass(measured, lambda p: _qsum(p, lambda q: q["run_tasks"])),
        "catalyst.analysis_s": _per_pass(measured, lambda p: catalyst(p, "analysis")),
        "catalyst.optimization_s": _per_pass(measured, lambda p: catalyst(p, "optimization")),
        "catalyst.planning_s": _per_pass(measured, lambda p: catalyst(p, "planning")),
        "codegen.compiles": _cost_per_pass(measured, lambda p: p["codegen_compiles"]),
        "jvm.jit_s": _cost_per_pass(measured, lambda p: p["jit_s"]),
        "jvm.gc_s": _cost_per_pass(measured, lambda p: p["gc_s"]),
        "jvm.peak_rss_mb": result["peak_rss_mb"],
        "exec.collect_s": _per_pass(measured, lambda p: _qsum(p, lambda q: q["collect_s"])),
        "exec.jobs": _per_pass(measured, lambda p: _qsum(p, lambda q: q["exec_jobs"])),
        "exec.stages": _per_pass(measured, lambda p: _qsum(p, lambda q: q["exec_stages"])),
        "exec.tasks": _per_pass(measured, lambda p: _qsum(p, lambda q: q["exec_tasks"])),
        "exec.shuffle_write_mb": _per_pass(measured, lambda p: plan(p, "shuffle_write_bytes") / MB),
        "exec.spill_mb": _per_pass(measured, lambda p: plan(p, "spill_bytes") / MB),
        "exec.scan_rows": _per_pass(measured, lambda p: plan(p, "scan_rows")),
        "exec.result_rows": _per_pass(measured, lambda p: _qsum(p, lambda q: q.get("result_rows", 0))),
        "exec.scan_rows_per_result_row": _per_pass(
            measured,
            lambda p: plan(p, "scan_rows") / max(1, _qsum(p, lambda q: q.get("result_rows", 0))),
        ),
        "python.bytes_sent_mb": _per_pass(measured, lambda p: plan(p, "python_sent") / MB),
        "python.bytes_received_mb": _per_pass(measured, lambda p: plan(p, "python_received") / MB),
        "python.rows_received": _per_pass(measured, lambda p: plan(p, "python_rows")),
        "cpu.jvm_s": _cost_per_pass(measured, lambda p: p["cpu"]["jvm"]),
        "cpu.driver_s": _cost_per_pass(measured, lambda p: p["cpu"]["driver"]),
        "cpu.python_workers_s": _cost_per_pass(measured, lambda p: p["cpu"]["workers"]),
        "cache.inmemory_scans": _per_pass(measured, lambda p: plan(p, "inmemory_scans")),
        "cache.held_mb": _per_pass(
            measured, lambda p: max(q.get("cache_held_mb", 0.0) for q in p["queries"])
        ),
        "io.tmp_bytes_written": _per_pass(measured, lambda p: p["io_bytes"]),
        "host.steal_s": _per_pass(measured, lambda p: p["steal_s"]),
        "trace.check_s": _per_pass(measured, lambda p: layers(p).get("check", 0.0)),
        "trace.counters_s": _per_pass(measured, counters_s),
        "trace.accounted_share": _per_pass(measured, accounted),
        "trace.setup_accounted_share": sum(by_name[n] for n in SETUP_LAYERS)
        / (setup["end"] - setup["start"]),
    })
    return values


def unit(name: str) -> str:
    return (END_TO_END.get(name) or PER_LAYER[name])[0]
