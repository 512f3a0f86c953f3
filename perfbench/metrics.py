"""Metric names, units and their assembly from one run's rounds, samples
and spans.

``END_TO_END`` and ``PER_LAYER`` are the names BENCHMARK.json lists; a
test keeps the two in step. Every workload reports every name. A
per-layer metric a workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from bench import HEADLINE_QUERIES
from perfbench import sparkjobs
from perfbench.stats import geomean, median, ratio, tail, union_length

END_TO_END = [
    ("setup_s", "s"),
    ("work_per_s", "1/s"),
    ("op_latency_s", "s"),
    ("cpu_ms_per_work", "ms"),
]

_MERGE_COUNTERS = [
    "rows_in", "target_rows_read", "rows_written", "dedup_drops", "late_events",
    "tombstones", "buckets_touched", "lww_rows", "passthrough_rows",
]

PER_LAYER = (
    [
        ("cpu.py_workers_s", "s"),
        ("cpu.jvm_s", "s"),
        ("cpu.driver_s", "s"),
        ("cpu.sys_s", "s"),
        ("cpu.executor_task_s", "s"),
        ("lake.table.merge.calls", "count"),
        ("lake.table.merge.self_s", "s"),
        ("lake.table.merge.driver_s", "s"),
        ("lake.table.merge.spark_job_s", "s"),
    ]
    + [(f"lake.table.merge.{c}", "count") for c in _MERGE_COUNTERS]
    + [
        ("lake.table.merge.rewrite_ratio", "ratio"),
        ("lake.table.merge.shuffle_write_bytes", "bytes"),
        ("lake.table.merge.spill_bytes", "bytes"),
        ("lake.table.merge.tasks", "count"),
        ("lake.table.merge.task_skew", "ratio"),
        ("lake.table.merge.task_p50_s", "s"),
        ("lake.table.compact_s", "s"),
        ("lake.table.maybe_split_s", "s"),
        ("lake.table.vacuum_s", "s"),
        ("lake.table.lookup_s", "s"),
        ("lake.table.changes_s", "s"),
        ("lake.table.files", "count"),
        ("lake.table.bytes_per_live_row", "bytes"),
        ("streaming.apply.run_available_s", "s"),
        ("streaming.apply.self_s", "s"),
        ("streaming.apply.batches", "count"),
        ("streaming.apply.merge_retries", "count"),
        ("streaming.apply.buckets_split", "count"),
        ("lake.vector_index.build_s", "s"),
        ("lake.vector_index.refresh_s", "s"),
        ("lake.vector_index.lists_rewritten", "count"),
        ("lake.vector_index.probe_s", "s"),
        ("lake.vector_index.recall_at_10", "ratio"),
        ("lake.vector_index.recall_queries", "count"),
        ("lake.reconcile.evolve_s", "s"),
        ("lake.reconcile.schema_changes", "count"),
        ("search.search_resource_s", "s"),
        ("search.search_author_s", "s"),
        ("sources.changelog.write_s", "s"),
        ("operators.embedding.embed_s", "s"),
    ]
    + [(f"queries.{q}_s", "s") for q in HEADLINE_QUERIES]
    + [
        ("trace.spans", "count"),
        ("trace.untraced.work_per_s", "1/s"),
        ("trace.untraced.op_latency_s", "s"),
        ("trace.overhead.work_per_s_pct", "%"),
        ("trace.overhead.op_latency_s_pct", "%"),
    ]
)

#: each ratio above and the metric that is its base (printed beside it)
RATIO_BASES = {
    "lake.table.merge.rewrite_ratio": "lake.table.merge.rows_in",
    "lake.table.merge.task_skew": "lake.table.merge.task_p50_s",
    "lake.vector_index.recall_at_10": "lake.vector_index.recall_queries",
    "trace.overhead.work_per_s_pct": "trace.untraced.work_per_s",
    "trace.overhead.op_latency_s_pct": "trace.untraced.op_latency_s",
}

def op_latency(h, wl, traced: bool | None) -> float:
    """Geometric mean, over the workload's operation kinds, of each
    kind's median latency. Every kind weighs the same whatever its
    sample count, so a slow kind with one sample per round (a merge
    among many reads) moves it as much as a fast frequent one."""
    per_kind = [h.kinds(k, traced=traced) for k in wl.OP_KINDS]
    return geomean([median(v) for v in per_kind if v])  # a kind that always failed is skipped


def e2e(h, wl, traced: bool) -> dict[str, float]:
    """End-to-end figures over the traced or the untraced rounds. Rates
    are medians over rounds (every round does the same work), so one
    round slowed by something outside the program does not move them."""
    rounds = h.measured(traced)
    return {
        "setup_s": h.setup_s(),
        "work_per_s": median([r.work / r.wall for r in rounds]),
        "op_latency_s": op_latency(h, wl, traced),
        "cpu_ms_per_work": median([1000.0 * r.cpu_total_s / r.work for r in rounds]),
    }


def op_shares(h, wl) -> dict[str, float]:
    """Each operation kind's share of the untraced rounds' wall time."""
    wall = sum(r.wall for r in h.measured(traced=False))
    return {k: round(sum(h.kinds(k, traced=False)) / wall, 4) for k in wl.OP_KINDS}


def _m(value, unit: str, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}


def report(h, wl) -> dict:
    """Every headline metric that applies to this workload (untraced
    rounds), with its unit; latencies carry their sample count, tails
    also their percentile (None when too few samples for a tail above
    the median)."""
    base = e2e(h, wl, traced=False)
    rounds = h.measured(traced=False)
    out = {
        "setup_s": _m(base["setup_s"], "s", n=len(h.setup_times)),
        "peak_rss_gb": _m(h.extra["peak_rss_bytes"] / 2**30, "GB"),
        "failed_ratio": {**ratio(h.failed, h.attempted), "unit": "ratio"},
    }
    if wl.WORK_UNIT == "events":
        work = sum(r.work for r in rounds)
        cpu = sum(r.cpu_total_s for r in rounds)
        out["events_per_s"] = _m(base["work_per_s"], "1/s")
        out["cpu_s_per_mevent"] = _m(1e6 * cpu / work, "s", events=work)
    for name, kinds in wl.REPORT_LATENCIES.items():
        vals = h.kinds(*kinds, traced=False)
        if not vals:
            continue
        out[f"{name}.p50"] = _m(median(vals), "s", n=len(vals))
        if name != "changes_s":
            t = tail(vals)
            out[f"{name}.tail"] = _m(t and t["value"], "s", n=len(vals), pct=t and t["pct"])
    out["op_share"] = op_shares(h, wl)
    if set(HEADLINE_QUERIES) <= set(wl.OP_KINDS):
        out["query_suite_s"] = _m(
            sum(median(h.kinds(q, traced=False)) for q in HEADLINE_QUERIES), "s")
    return out


# ------------------------------------------------------------ per layer
def per_layer(h, wl) -> dict[str, float]:
    tr = h.tracer
    traced = h.measured(traced=True)
    n = len(traced)
    kids = tr.children()
    out = {name: 0.0 for name, _ in PER_LAYER}

    for key in ("py_workers_s", "jvm_s", "driver_s", "sys_s"):
        out[f"cpu.{key}"] = sum(r.cpu[key] for r in traced) / n
    out["cpu.executor_task_s"] = sum(r.executor_cpu_s for r in traced) / n

    merges = tr.by_name("lake.table.merge")
    if merges:
        jobs = sparkjobs.job_intervals(sparkjobs.settled_jobs(h.spark))
        all_stages = sparkjobs.stages(h.spark)
        # seconds of each merge span during which a Spark job was running
        job_s = [union_length(jobs, s.start, s.end) for s in merges]
        out["lake.table.merge.calls"] = len(merges) / n
        out["lake.table.merge.self_s"] = sum(tr.self_time(s, kids) for s in merges) / n
        out["lake.table.merge.spark_job_s"] = sum(job_s) / n
        out["lake.table.merge.driver_s"] = sum(
            s.duration - j for s, j in zip(merges, job_s)) / n
        for c in _MERGE_COUNTERS:
            out[f"lake.table.merge.{c}"] = sum(s.attrs.get(c, 0) for s in merges) / n
        rows_in = out["lake.table.merge.rows_in"]
        out["lake.table.merge.rewrite_ratio"] = ratio(
            out["lake.table.merge.rows_written"], rows_in)["value"]
        skews, p50s, shuffle, spill, tasks = [], [], 0, 0, 0
        for s in merges:
            st = sparkjobs.stages_within(all_stages, s.start, s.end)
            if not st:
                continue
            shuffle += sum(x.get("shuffleWriteBytes", 0) for x in st)
            spill += sum(x.get("memoryBytesSpilled", 0) + x.get("diskBytesSpilled", 0)
                         for x in st)
            tasks += sum(x.get("numCompleteTasks", 0) for x in st)
            dominant = max(st, key=lambda x: x.get("executorRunTime", 0))
            p50, skew = sparkjobs.task_skew(h.spark, dominant)
            p50s.append(p50)
            skews.append(skew)
        out["lake.table.merge.shuffle_write_bytes"] = shuffle / n
        out["lake.table.merge.spill_bytes"] = spill / n
        out["lake.table.merge.tasks"] = tasks / n
        if skews:
            out["lake.table.merge.task_skew"] = statistics.median(skews)
            out["lake.table.merge.task_p50_s"] = statistics.median(p50s)

    for short in ("compact", "maybe_split", "vacuum"):
        out[f"lake.table.{short}_s"] = sum(
            s.duration for s in tr.by_name(f"lake.table.{short}")) / n
    runs = tr.by_name("streaming.apply.run_available")
    if runs:
        out["streaming.apply.run_available_s"] = sum(s.duration for s in runs) / n
        out["streaming.apply.self_s"] = sum(tr.self_time(s, kids) for s in runs) / n
        out["streaming.apply.batches"] = sum(s.attrs.get("batches", 0) for s in runs) / n
        out["streaming.apply.buckets_split"] = sum(
            s.attrs.get("buckets_split", 0) for s in tr.by_name("lake.table.maybe_split")) / n
    refreshes = tr.by_name("lake.vector_index.refresh")
    if refreshes:
        out["lake.vector_index.refresh_s"] = median([s.duration for s in refreshes])
        out["lake.vector_index.lists_rewritten"] = sum(
            s.attrs.get("lists_rewritten", 0) for s in refreshes) / n
    evolves = tr.by_name("lake.reconcile.evolve")
    out["lake.reconcile.evolve_s"] = sum(s.duration for s in evolves) / n
    out["lake.reconcile.schema_changes"] = sum(
        s.attrs.get("schema_changes", 0) for s in evolves) / n

    def p50_of(kind):
        v = h.kinds(kind, traced=True)
        return median(v) if v else 0.0

    out["lake.table.lookup_s"] = p50_of("lookup")
    out["lake.table.changes_s"] = p50_of("changes")
    out["lake.vector_index.probe_s"] = p50_of("probe")
    out["search.search_resource_s"] = p50_of("search_resource")
    out["search.search_author_s"] = p50_of("search_author")
    for q in HEADLINE_QUERIES:
        out[f"queries.{q}_s"] = p50_of(q)
    for name, part in (("operators.embedding.embed_s", "embed"),
                       ("lake.vector_index.build_s", "build")):
        if h.parts.get(part):
            out[name] = median(h.parts[part])
    out.update(wl.layer_extras())
    out["trace.spans"] = len([s for s in tr.spans if s.end is not None]) / n

    untraced = e2e(h, wl, traced=False)
    with_trace = e2e(h, wl, traced=True)
    for k in ("work_per_s", "op_latency_s"):
        out[f"trace.untraced.{k}"] = untraced[k]
        out[f"trace.overhead.{k}_pct"] = 100.0 * (with_trace[k] - untraced[k]) / untraced[k]
    return out


# ------------------------------------------------------------ assembly
def assemble(h, wl, problems: list[str]) -> dict:
    correct = not problems
    for p in problems:
        print(f"perfbench: check failed: {p}")
    for f in h.failures:
        print(f"perfbench: operation failed: {f}")
    if h.trace:
        values, units = per_layer(h, wl), dict(PER_LAYER)
    else:
        values, units = e2e(h, wl, traced=False), dict(END_TO_END)
    return {
        "report": {
            "workload": wl.NAME,
            "seed": h.seed,
            "cores": h.cores,
            "heap": h.heap,
            "rounds": len(h.rounds),
            "setup_samples": len(h.setup_times),
            "metrics": report(h, wl),
            "checks": wl.check_summary,
        },
        "final": {
            "correct": correct,
            "attempted": h.attempted,
            "failed": h.failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        },
    }
