"""Statistics the benchmark reports: percentiles, quartiles, span self
time, failure share, and the metric sets built from one benchmark JVM result.

As a script, summarizes repeated runs: each argument is a file holding
run.py's stdout of one or more runs (every JSON line with "metrics" counts).

    python3 perfbench/stats.py runs.txt
"""
import json
import math
import statistics
import sys


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q <= 100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def beyond(n, q):
    """How many of n samples lie strictly above the nearest-rank q-th
    percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def highest_percentile(n, min_beyond=10):
    """The highest whole percentile that still has `min_beyond` samples
    beyond it, or None when n is too small for any."""
    for q in range(99, 0, -1):
        if beyond(n, q) >= min_beyond:
            return q
    return None


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_share(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    child spans cover. Children may overlap each other (parallel work
    inside one call); overlapping stretches count once. `spans` is a list
    of (query, name, start, end, parent_index).
    """
    children = {}
    for s in spans:
        if s[4] >= 0:
            children.setdefault(s[4], []).append((s[2], s[3]))
    return [s[3] - s[2] - covered(children.get(i, []), s[2], s[3])
            for i, s in enumerate(spans)]


def failures(runs, expected):
    """Runs that raised, or whose result differs from `expected[name]`."""
    return [r for r in runs
            if "error" in r or expected.get(r["name"]) != r["result"]]


def failed_frac(runs, expected):
    return len(failures(runs, expected)) / len(runs)


def _latencies(runs):
    return [r["end_ms"] - r["start_ms"] for r in runs]


def end_to_end(timed, expected):
    """End-to-end metrics of one untraced timed pass."""
    runs = timed["queries"]
    correct = len(runs) - len(failures(runs, expected))
    return {
        "throughput_qps": correct / (timed["wall_ms"] / 1000.0),
        "setup_s": timed["setup_s"],
    }


def _total_and_p50(prefix, values):
    return {prefix: sum(values), prefix + ".p50": percentile(values, 50) if values else 0.0}


def per_layer(result, plain, traced, entries):
    """Per-layer metrics of a traced pass. `plain` holds the untraced
    passes of the same run, one before and one after the traced pass: the
    tracing overhead is measured against their mean, so the JIT warming
    from lap to lap does not count as overhead."""
    runs = traced["queries"]
    spans = traced["spans"]
    n = len(runs)
    by_query = {}
    for s in spans:
        by_query.setdefault(s[0], []).append(s)

    def per_query(name):
        out = []
        for q in sorted(by_query):
            d = [s[3] - s[2] for s in by_query[q] if s[1] == name]
            if d:
                out.append(sum(d))
        return out

    selfs = self_times(spans)
    splice = [selfs[i] for i, s in enumerate(spans) if s[1] == "planner.optimize"]
    query_spans = [(i, s) for i, s in enumerate(spans) if s[1] == "query"]
    query_time = sum(s[3] - s[2] for _, s in query_spans)
    planned = [r for r in runs if "sketch_ms" in r]
    c = traced["counters"]
    sk = traced.get("spark", {})
    m = {}
    m.update(_total_and_p50("planner.optimize_ms", per_query("planner.optimize")))
    m.update(_total_and_p50("planner.splice_ms", splice))
    m["planner.path_frac"] = len(planned) / n if "filtered_builds" in c else 0.0
    m["planner.filtered_builds"] = c.get("filtered_builds", 0)
    looked = c.get("filtered_builds", 0) + c.get("filtered_hits", 0) + c.get("filtered_disk_hits", 0)
    m["planner.filtered_hit_ratio"] = c.get("filtered_hits", 0) / looked if looked else 0.0
    tlook = c.get("template_hits", 0) + c.get("template_misses", 0)
    m["planner.template_hit_ratio"] = c.get("template_hits", 0) / tlook if tlook else 0.0
    m.update(_total_and_p50("sketch.build_ms", [r["sketch_ms"] for r in planned]))
    m["sketch.jobs"] = c.get("filtered_builds", 0) + c.get("template_misses", 0)
    m["sketch.rows"] = sum(r["sketch_rows"] for r in planned)
    m["sketch.rows_per_s"] = (m["sketch.rows"] / (m["sketch.build_ms"] / 1000.0)
                              if m["sketch.build_ms"] else 0.0)
    enum = [r["enumerate_ms"] for r in planned]
    m.update(_total_and_p50("enumerate.ms", enum))
    m["enumerate.ms_max"] = max(enum) if enum else 0
    m.update(_total_and_p50("plans.extract_ms", per_query("plans.extract")))
    m["plans.instances"] = sum(r["instances"] for r in planned)
    for layer in ("analyze", "plan", "execute"):
        m.update(_total_and_p50(f"spark.{layer}_ms", per_query(f"spark.{layer}")))
    m["spark.codegen_compile_ms"] = traced["codegen_compile_ms"]
    m["spark.jobs"] = sk.get("jobs", 0)
    m["spark.tasks"] = sk.get("tasks", 0)
    m["spark.task_run_s"] = sk.get("task_run_ms", 0) / 1000.0
    m["spark.task_wait_s"] = sk.get("task_wait_ms", 0) / 1000.0
    m["spark.parallel_eff"] = (sk.get("task_run_ms", 0)
                               / (traced["wall_ms"] * result["config"]["clients"]))
    m["spark.shuffle_mb"] = sk.get("shuffle_bytes", 0) / 1048576.0
    m["spark.spill_mb"] = sk.get("spill_bytes", 0) / 1048576.0
    m["spark.result_mb"] = sk.get("result_bytes", 0) / 1048576.0
    for e in entries:
        build = per_query(f"operators.{e}.build")
        qs = [q for q in sorted(by_query) if any(s[1] == f"operators.{e}.build" for s in by_query[q])]
        plan = sum(s[3] - s[2] for q in qs for s in by_query[q] if s[1] == "spark.plan")
        exe = sum(s[3] - s[2] for q in qs for s in by_query[q] if s[1] == "spark.execute")
        m[f"operators.{e}.plan_ms"] = sum(build) + plan
        m[f"operators.{e}.exec_ms"] = exe
    m["jvm.gc_ms"] = traced["gc_ms"]
    m["jvm.jit_ms"] = traced["jit_ms"]
    m["job.ensure_data_s"] = result.get("ensure_data_s", 0.0)
    m["job.template_warm_s"] = result.get("template_warm_s", 0.0)
    m["trace.overhead_frac"] = traced["wall_ms"] / statistics.mean(p["wall_ms"] for p in plain) - 1.0
    # End-to-end figures too unsteady run to run for a bound; they come
    # from the untraced pass before the traced one.
    lat = _latencies(plain[0]["queries"])
    m["latency_p50_ms"] = percentile(lat, 50)
    m["latency_p90_ms"] = percentile(lat, 90)
    m["cpu_ms_per_query"] = plain[0]["cpu_ms"] / len(plain[0]["queries"])
    m["heap_peak_mb"] = plain[0]["heap_peak_mb"]
    m["trace.query_self_frac"] = (sum(selfs[i] for i, _ in query_spans) / query_time
                                  if query_time else 0.0)
    return m


def spreads(results):
    """{metric: (median, first-to-third-quartile share of the median)}
    over repeated runs' result lines."""
    out = {}
    for name in sorted(results[0]["metrics"]):
        vals = [r["metrics"][name]["value"] for r in results]
        out[name] = (statistics.median(vals), iqr_share(vals) if len(vals) > 1 else 0.0)
    return out


if __name__ == "__main__":
    lines = [json.loads(line) for f in sys.argv[1:] for line in open(f)
             if line.startswith("{") and '"metrics"' in line]
    for name, (med, share) in spreads(lines).items():
        print(f"{name:32s} n={len(lines):3d} median={med:.6g} iqr/median={share:.3f}")
