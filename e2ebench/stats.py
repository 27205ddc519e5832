"""Pure metric logic of the benchmark: no I/O, no Spark, no DuckDB.

`run.py` feeds it the client's raw record (one dict per timed op, listener
totals per window) and prints what it returns. Kept separate so the rules
below are unit-tested on their own (test_stats.py).

Rules:
- A timed op fails when it threw, or when its query failed the result
  check. Every timed op counts once: no reruns, no retries, no outliers
  dropped.
- Latency statistics treat a failed op as slower than every successful one.
- op_p50_s is the median of the per-query median latencies, so each query
  counts once however many passes ran.
- The op tail is the highest pooled percentile that still has at least
  TAIL_BEYOND ops above it. It goes to the run record with its percentile
  and sample count, not into the metrics: a run times too few ops for it
  to sit above the median (NOTES.md).
"""
import math
import statistics

TAIL_BEYOND = 10
MB = 1e6


def median(values):
    return statistics.median(values)


def tail(latencies, beyond=TAIL_BEYOND):
    """(value, percentile, n) of the highest percentile with at least
    `beyond` samples above it, or None when there are too few samples.

    With n sorted samples the k-th smallest has n - k samples above it, so
    k = n - beyond, and that sample sits at percentile 100 k / n.
    """
    n = len(latencies)
    k = n - beyond
    if k < 1:
        return None
    return sorted(latencies)[k - 1], 100.0 * k / n, n


def op_latency(op, failed_queries):
    """An op's latency, infinite when it failed."""
    if op["error"] is not None or op["query"] in failed_queries:
        return math.inf
    return op["total_s"]


def failed_ops(ops, failed_queries):
    return sum(1 for op in ops if math.isinf(op_latency(op, failed_queries)))


def per_query_median_p50(ops, failed_queries):
    by_query = {}
    for op in ops:
        by_query.setdefault(op["query"], []).append(op_latency(op, failed_queries))
    return median([median(v) for v in by_query.values()])


def _finite(x, cap):
    """Failed ops are infinite; a statistic that lands on one is capped at
    the window's wall time, the longest any op could have taken."""
    return cap if math.isinf(x) else x


def end_to_end(setup_s, window, failed_queries):
    """The end-to-end metrics of one untraced window, name -> (value, unit).

    `window` is the client's record of the timed window: `ops`, `passes`,
    `wall_s` and the exec/build listener totals.
    """
    ops = window["ops"]
    passes = len(window["passes"])
    wall = window["wall_s"]
    bad = failed_ops(ops, failed_queries)
    shuffle = window["build"]["shuffle_bytes"] + window["exec"]["shuffle_bytes"]
    m = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / wall, "1/s"),
        "op_p50_s": (_finite(per_query_median_p50(ops, failed_queries), wall), "s"),
        "ok_frac": ((len(ops) - bad) / len(ops), "fraction"),
        "shuffle_mb": (shuffle / MB / passes, "MB"),
    }
    return m


def tail_info(window, failed_queries):
    """The op tail with its percentile and sample count, for the run
    record; None when the window has too few ops."""
    t = tail([op_latency(op, failed_queries) for op in window["ops"]])
    return {"value_s": t[0], "percentile": t[1], "samples": t[2]} if t else None


def per_layer(window, cores, overhead_frac):
    """Per-layer metrics of one traced window, name -> (value, unit).
    Counts and times are per pass."""
    p = len(window["passes"])
    b, x = window["build"], window["exec"]
    exec_s = sum(op["exec_s"] for op in window["ops"])
    both = lambda k: b[k] + x[k]
    return {
        "entry.build_s": (sum(op["build_s"] for op in window["ops"]) / p, "s"),
        "entry.jobs": (b["jobs"] / p, "count"),
        "plan.s": (window["plan_ms"] / 1e3 / p, "s"),
        "exec.s": (exec_s / p, "s"),
        "exec.jobs": (x["jobs"] / p, "count"),
        "exec.stages": (x["stages"] / p, "count"),
        "exec.tasks": (x["tasks"] / p, "count"),
        "exec.task_run_s": (x["task_run_ms"] / 1e3 / p, "s"),
        "exec.task_cpu_s": (x["task_cpu_ns"] / 1e9 / p, "s"),
        "exec.slot_busy": (x["task_run_ms"] / 1e3 / (exec_s * cores), "fraction"),
        "exec.gc_s": (x["gc_ms"] / 1e3 / p, "s"),
        "exec.peak_task_mem_mb": (x["peak_task_mem"] / MB, "MB"),
        "exec.codegen_compile_s": (window["codegen_ms"] / 1e3 / p, "s"),
        "exec.codegen_classes": (window["codegen_count"] / p, "count"),
        "shuffle.write_mb": (both("shuffle_bytes") / MB / p, "MB"),
        "shuffle.records": (both("shuffle_records") / p, "count"),
        "shuffle.fetch_wait_s": (both("fetch_wait_ms") / 1e3 / p, "s"),
        "shuffle.spill_mb": (both("spill_bytes") / MB / p, "MB"),
        "sources.read_mb": (both("in_bytes") / MB / p, "MB"),
        "sources.read_records": (both("in_records") / p, "count"),
        "sources.write_mb": (both("out_bytes") / MB / p, "MB"),
        "sources.write_records": (both("out_records") / p, "count"),
        "materialize.held_mb": (max([window["held_op_max_mb"]] +
                                    [q["held_mb"] for q in window["passes"]]), "MB"),
        "jvm.jit_s": (window["jit_ms"] / 1e3 / p, "s"),
        "jvm.gc_pause_s": (window["gc_ms"] / 1e3 / p, "s"),
        "jvm.live_heap_mb": (max(q["live_heap_mb"] for q in window["passes"]), "MB"),
        "trace.overhead_frac": (overhead_frac, "fraction"),
    }


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line: every metric with name and unit."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
