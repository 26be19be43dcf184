"""Metrics from the harness's raw samples.

End-to-end metrics use every timed operation; in a traced run they are
still computed (for the record) but only the per-layer ones are reported.
Per-layer metrics come from a ``--trace 1`` run: driver and executor figures
from the Spark listeners the harness attaches to the traced operations, layer
spans from the harness's own timers around each public call on the untraced
ones.

``MOVES`` says, for each per-layer metric, which end-to-end metric it should
move and on which workload; ``test_perfbench.py`` keeps it in step with
``BENCHMARK.json``.
"""
import json
import math
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The query-floor workload: sub-second queries whose time is mostly driver
# work (analysis, planning, AQE re-planning, scheduling); one pass runs each once.
FLOOR_Q = ["q02_filter_project", "q03_join_agg", "q04_topk", "q05_distinct_sort",
           "q06_event_counts", "q07_window_rownum", "q09_pivot", "q10_extract_cast",
           "q11_clean_text", "q13_union", "q14_anti_join", "q143_histogram"]

MOVES = {
    "logs.scan_clean_s": ("pass_s", "log-pipeline"),
    "logs.lines": ("pass_s", "log-pipeline"),
    "logs.bytes": ("pass_s", "log-pipeline"),
    "mine.build_s": ("pass_s", "log-pipeline"),
    "mine.restore_s": ("pass_s", "log-pipeline"),
    "mine.match_s": ("pass_s", "log-pipeline"),
    "mine.clusters": ("pass_s", "log-pipeline"),
    "mine.partition_trees": ("pass_s", "log-pipeline"),
    "mine.matched_ratio": ("pass_s", "log-pipeline"),
    "driver.plan_ms": ("op_p50_ms", "query-floor"),
    "driver.gap_share": ("op_tail_ms", "query-floor"),
    "driver.jobs_per_query": ("op_p50_ms", "query-floor"),
    "driver.stages_per_query": ("op_p50_ms", "query-floor"),
    "executor.tasks": ("ops_per_s", "log-pipeline"),
    "executor.cpu_s": ("ops_per_s", "log-pipeline"),
    "executor.run_s": ("ops_per_s", "log-pipeline"),
    "executor.core_busy_share": ("ops_per_s", "log-pipeline"),
    "executor.gc_s": ("ops_per_s", "log-pipeline"),
    "shuffle.write_bytes": ("ops_per_s", "query-floor"),
    "shuffle.read_bytes": ("ops_per_s", "query-floor"),
    "shuffle.spill_bytes": ("ops_per_s", "query-floor"),
    "sources.input_bytes": ("op_p50_ms", "query-floor"),
    "sources.input_rows": ("op_p50_ms", "query-floor"),
    "session.build_s": ("setup_s", "query-floor"),
    "jvm.peak_rss_mb": ("setup_s", "log-pipeline"),
    "trace.overhead_share": ("op_p50_ms", "query-floor"),
    **{f"query.{q}_ms": ("op_p50_ms", "query-floor") for q in FLOOR_Q},
}


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def units():
    b = benchmark()
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def tail_rank(n):
    """The tail percentile for n samples: the highest whole percentile p
    (at most 99) whose nearest-rank sample has at least 10 samples beyond
    it. Returns (p, rank), rank 1-based. Below 20 samples no percentile
    from the median up qualifies; the tail is then the largest sample
    (p100, rank n)."""
    best = (100, max(n, 1))
    for p in range(50, 100):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            best = (p, rank)
    return best


def tail(values):
    v = sorted(values)
    _, rank = tail_rank(len(v))
    return v[rank - 1]


def _med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def end_to_end(meta, samples):
    lat = [s["ms"] for s in samples]
    # each operation's median over the passes: one slow pass then moves no
    # operation, and every operation weighs the same
    per_op = [_med(s["ms"] for s in samples if s["name"] == n)
              for n in sorted({s["name"] for s in samples})]
    return {
        "setup_s": _med(meta["setup_s"]),
        "pass_s": sum(per_op) / 1000.0,
        "op_p50_ms": _med(per_op),
        "op_tail_ms": tail(lat),
        "ops_per_s": sum(1 for s in samples if s["completed"]) / meta["window_s"],
    }


def per_layer(meta, samples, inputs):
    traced = [s for s in samples if s["traced"]]
    names = sorted({s["name"] for s in samples})

    def total(field):
        return sum(s.get(field, 0) for s in traced)

    def per_pass(field):
        # each operation's mean over its traced samples, summed over a pass
        out = 0.0
        for n in names:
            xs = [s[field] for s in traced if s["name"] == n and field in s]
            out += statistics.fmean(xs) if xs else 0.0
        return out

    def per_op(field):
        return total(field) / len(traced) if traced else 0.0

    span = total("span_ms")
    m = {
        "driver.plan_ms": per_op("plan_ms") + per_op("analysis_ms"),
        "driver.gap_share": 1.0 - total("job_union_ms") / span if span else 0.0,
        "driver.jobs_per_query": per_op("jobs"),
        "driver.stages_per_query": per_op("stages"),
        "executor.tasks": per_pass("tasks"),
        "executor.cpu_s": per_pass("cpu_ms") / 1000.0,
        "executor.run_s": per_pass("run_ms") / 1000.0,
        "executor.core_busy_share": total("run_ms") / (span * meta["cores"]) if span else 0.0,
        "executor.gc_s": per_pass("gc_ms") / 1000.0,
        "shuffle.write_bytes": per_pass("shuffle_write"),
        "shuffle.read_bytes": per_pass("shuffle_read"),
        "shuffle.spill_bytes": per_pass("spill"),
        "sources.input_bytes": per_pass("input_bytes"),
        "sources.input_rows": per_pass("input_rows"),
        "session.build_s": _med(meta["session_build_s"]),
        "jvm.peak_rss_mb": meta["peak_rss_mb"],
    }
    # tracing overhead: traced against untraced medians of the same operations
    t_sum = u_sum = 0.0
    for n in names:
        t = [s["ms"] for s in samples if s["name"] == n and s["traced"]]
        u = [s["ms"] for s in samples if s["name"] == n and not s["traced"]]
        if t and u:
            t_sum += _med(t)
            u_sum += _med(u)
    m["trace.overhead_share"] = t_sum / u_sum - 1.0 if u_sum else 0.0
    # the pipeline's layer spans, probed on the untraced passes; the probe's
    # scan+clean span is subtracted from the mine and match calls, each of
    # which scans and cleans again
    pipe = [s for s in samples if "scan_clean_ms" in s]
    m.update({
        "logs.scan_clean_s": _med(s["scan_clean_ms"] for s in pipe) / 1000.0,
        "logs.lines": _med(s["lines"] for s in samples if "lines" in s),
        "logs.bytes": inputs.get("corpus_bytes", 0),
        "mine.build_s": max(0.0, _med(s["mine_ms"] - s["scan_clean_ms"] for s in pipe) / 1000.0),
        "mine.restore_s": _med(s["restore_ms"] for s in pipe) / 1000.0,
        "mine.match_s": max(0.0, _med(s["match_ms"] - s["scan_clean_ms"] for s in pipe) / 1000.0),
        "mine.clusters": _med(s["clusters"] for s in samples if "clusters" in s),
        "mine.partition_trees": _med(s["partition_trees"] for s in pipe),
    })
    lines = sum(s.get("lines", 0) for s in samples)
    m["mine.matched_ratio"] = (lines - sum(s.get("unmatched", 0) for s in samples)) / lines if lines else 0.0
    for q in FLOOR_Q:
        m[f"query.{q}_ms"] = _med(s["ms"] for s in samples if s["name"] == q)
    return m
