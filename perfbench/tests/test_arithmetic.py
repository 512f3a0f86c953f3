"""Tests for the benchmark's own arithmetic: tail percentile choice, span
self time, the CPU split by process role, the per-kind latency mean,
rates as medians over rounds, ratios carrying their base, and the per-code-version counter record.
Pure Python; no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from perfbench import metrics, proc
from perfbench.stats import geomean, ratio, tail, union_length
from perfbench.trace import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------------ tail
def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 31))  # 30 samples
    t = tail(values)
    assert t["n"] == 30
    assert t["value"] == 20  # ranks 21..30 lie beyond it
    assert t["pct"] == pytest.approx(100 * 20 / 30)
    assert sum(1 for v in values if v > t["value"]) == 10


def test_tail_is_order_independent():
    values = [5.0, 1.0, 3.0] * 10
    assert tail(values) == tail(sorted(values))


def test_tail_needs_a_percentile_at_or_above_the_median():
    assert tail(list(range(20)))["pct"] == 50.0
    assert tail(list(range(19))) is None  # would be p47: not a tail
    assert tail(list(range(10))) is None
    assert tail([]) is None


# ------------------------------------------------------- intervals, spans
def test_union_length_counts_overlap_once_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    assert union_length([(0, 1)], 2, 4) == 0
    assert union_length([]) == 0


def _span(i, start, end, parent=None, thread="main"):
    return Span(i, f"s{i}", start, end, parent, "run", thread)


def test_self_time_subtracts_nested_children_but_not_grandchildren():
    tr = Tracer("run")
    tr.spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 2.0, 3.0, parent=2),  # inside span 2: no effect on span 1
        _span(4, 6.0, 7.0, parent=1),
    ]
    parent, child = tr.spans[0], tr.spans[1]
    assert tr.self_time(parent) == pytest.approx(10 - 3 - 1)
    assert tr.self_time(child) == pytest.approx(3 - 1)


def test_self_time_with_overlapping_cross_thread_children():
    tr = Tracer("run")
    tr.spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 5.0, parent=1, thread="callback-1"),
        _span(3, 4.0, 6.0, parent=1, thread="callback-2"),
        _span(4, 9.0, 12.0, parent=1, thread="callback-1"),  # outlives the parent
    ]
    # covered: [1, 6] plus [9, 10] = 6 of 10 seconds
    assert tr.self_time(tr.spans[0]) == pytest.approx(4.0)


def test_span_on_a_callback_thread_links_to_the_open_span():
    tr = Tracer("run")
    seen = {}

    def callback():
        with tr.span("lake.table.merge") as sp:
            seen["merge"] = sp
            with tr.span("lake.reconcile.evolve") as inner:
                seen["evolve"] = inner

    with tr.span("streaming.apply.run_available") as outer:
        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert seen["merge"].parent == outer.id
    assert seen["evolve"].parent == seen["merge"].id
    assert {s.run_id for s in tr.spans} == {"run"}
    assert all(s.end is not None for s in tr.spans)


def test_spans_dump_as_json(tmp_path):
    tr = Tracer("abc")
    with tr.span("round"):
        with tr.span("merge"):
            pass
    out = tmp_path / "spans.json"
    tr.dump(str(out))
    rows = json.loads(out.read_text())
    assert [r["name"] for r in rows] == ["round", "merge"]
    assert rows[1]["parent"] == rows[0]["id"]
    assert {"start", "end", "parent", "run_id"} <= set(rows[0])


# ------------------------------------------------------------- CPU split
def test_classify_by_command_line():
    me = 100
    assert proc.classify(me, me, b"python3\0perfbench/run.py") == "driver"
    assert proc.classify(7, me, b"/usr/lib/jvm/bin/java\0-cp\0x") == "jvm"
    assert proc.classify(8, me, b"python3\0-m\0pyspark.daemon") == "py_workers"
    assert proc.classify(9, me, b"bash\0spark-submit") == "other"


def test_cpu_split_sums_user_by_role_and_all_sys():
    tree = {
        1: {"role": "driver", "user": 1.0, "sys": 0.5, "rss": 0},
        2: {"role": "jvm", "user": 10.0, "sys": 2.0, "rss": 0},
        3: {"role": "py_workers", "user": 4.0, "sys": 1.0, "rss": 0},
        4: {"role": "py_workers", "user": 3.0, "sys": 0.0, "rss": 0},
    }
    split = proc.cpu_split(tree)
    assert split == {"jvm_s": 10.0, "py_workers_s": 7.0, "driver_s": 1.0,
                     "other_s": 0.0, "sys_s": 3.5}
    before = dict(split, jvm_s=4.0)
    assert proc.delta(split, before)["jvm_s"] == 6.0


def test_scan_tree_sees_this_process():
    tree = proc.scan_tree()
    assert tree[os.getpid()]["role"] == "driver"
    assert tree[os.getpid()]["user"] >= 0


# ------------------------------------------------------- latency metric
class _FakeHarness:
    def __init__(self, samples):
        self.samples = samples  # kind -> durations

    def kinds(self, *kinds, traced=None):
        return [v for k in kinds for v in self.samples.get(k, [])]


class _FakeWorkload:
    OP_KINDS = ("merge", "lookup", "probe")


def test_op_latency_weighs_each_kind_once():
    # one slow merge among many fast lookups still moves the metric as
    # much as the lookups do
    h = _FakeHarness({"merge": [8.0], "lookup": [1.0] * 9 + [100.0], "probe": [0.5, 0.5]})
    assert metrics.op_latency(h, _FakeWorkload, traced=False) == pytest.approx(
        (8.0 * 1.0 * 0.5) ** (1 / 3))
    h.samples["merge"] = [16.0]
    assert metrics.op_latency(h, _FakeWorkload, traced=False) == pytest.approx(
        (16.0 * 1.0 * 0.5) ** (1 / 3))


def test_op_latency_skips_a_kind_that_always_failed():
    h = _FakeHarness({"merge": [4.0], "lookup": [1.0]})
    assert metrics.op_latency(h, _FakeWorkload, traced=False) == pytest.approx(2.0)


def test_geomean_rejects_non_positive_samples():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_rates_are_medians_over_rounds():
    # one round slowed by something outside the program moves neither rate
    from perfbench.harness import Round

    h = _FakeHarness({"merge": [1.0], "lookup": [1.0], "probe": [1.0]})
    h.setup_s = lambda: 1.0
    h.measured = lambda traced=None: [
        Round(0, False, wall=2.0, work=100.0, cpu_total_s=4.0),
        Round(1, False, wall=9.0, work=100.0, cpu_total_s=20.0),
        Round(2, False, wall=2.5, work=100.0, cpu_total_s=5.0),
    ]
    out = metrics.e2e(h, _FakeWorkload, traced=False)
    assert out["work_per_s"] == pytest.approx(100.0 / 2.5)
    assert out["cpu_ms_per_work"] == pytest.approx(1000.0 * 5.0 / 100.0)


# ------------------------------------------------------ counter records
def test_counter_record_is_kept_per_code_version(tmp_path, monkeypatch):
    from perfbench.workloads import common

    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(common, "code_version", lambda: "v1")
    first = {"rows_in": 10, "rows_written": 40}
    assert common.same_counters([first, dict(first)], "wl", 3) is None
    assert common.same_counters([first], "wl", 3) is None  # matches the record
    assert "earlier run" in common.same_counters([dict(first, rows_written=30)], "wl", 3)
    assert "between rounds" in common.same_counters([first, dict(first, rows_in=9)], "wl", 3)
    # changed code that rewrites fewer rows starts its own record
    monkeypatch.setattr(common, "code_version", lambda: "v2")
    assert common.same_counters([dict(first, rows_written=30)], "wl", 3) is None


def test_code_version_hashes_sources():
    from perfbench.workloads import common

    v = common.code_version()
    assert len(v) == 16 and v == common.code_version()


# ---------------------------------------------------------------- ratios
def test_ratio_carries_its_base():
    r = ratio(3, 12)
    assert r == {"value": 0.25, "numerator": 3, "base": 12}
    assert ratio(0, 0)["value"] == 0.0


def test_every_per_layer_ratio_names_a_reported_base():
    names = {n for n, _ in metrics.PER_LAYER}
    for name, unit in metrics.PER_LAYER:
        if unit in ("ratio", "%"):
            assert name in metrics.RATIO_BASES, name
            assert metrics.RATIO_BASES[name] in names, name


# --------------------------------------------------------- BENCHMARK.json
def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == metrics.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(ROOT, "perfbench", "layer_map.json")) as f:
        layers = json.load(f)["layers"]
    mapped = [m for entry in layers for m in entry["metrics"]]
    assert sorted(mapped) == sorted(n for n, _ in metrics.PER_LAYER)
    e2e = {n for n, _ in metrics.END_TO_END}
    from perfbench.workloads import WORKLOADS

    for entry in layers:
        for mv in entry["moves"]:
            assert mv["metric"] in e2e and mv["workload"] in WORKLOADS
