"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import inputs
import stats
from spans import Span, Tracer, self_times


def test_tail_rank_leaves_ten_samples_beyond():
    assert stats.tail_rank(10) is None
    assert stats.tail_rank(11) == (1, 100.0 / 11)
    assert stats.tail_rank(20) == (10, 50.0)
    assert stats.tail_rank(100) == (90, 90.0)
    assert stats.tail_rank(1000) == (990, 99.0)
    for n in range(11, 300):
        r, pct = stats.tail_rank(n)
        assert n - r == stats.TAIL_BEYOND
        # nearest rank of that percentile is r; any higher one is r + 1
        assert math.ceil(round(pct * n / 100, 9)) == r


def test_tail_value_is_nearest_rank():
    xs = [float(x) for x in range(100, 0, -1)]  # 1..100, unsorted
    assert stats.tail(xs) == (90.0, 90.0)
    assert stats.tail(xs[:5]) is None


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert abs(stats.quartile_spread([9.0, 10.0, 10.0, 11.0]) - 0.15) < 1e-12


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 4.0, 0, 0),
        Span(2, "b", 3.0, 6.0, 0, 0),    # overlaps a: union 1..6
        Span(3, "c", 9.0, 12.0, 0, 0),   # runs past the parent: clipped
        Span(4, "a.x", 2.0, 3.0, 1, 0),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 5.0 - 1.0
    assert st[1] == 3.0 - 1.0
    assert st[2] == 3.0
    assert st[4] == 1.0


def test_tracer_nesting_and_wrap():
    class Box:
        def f(self, x):
            return x + 1

    t = Tracer(True)
    box = Box()
    t.wrap(box, "f", "box.f")
    t.op = 7
    with t.span("outer"):
        assert box.f(1) == 2
    t.op = None
    t.unwrap_all()
    assert "f" not in vars(box)
    outer, inner = t.spans
    assert (outer.name, inner.name, inner.parent, inner.op) == ("outer", "box.f", outer.id, 7)
    assert t.per_call_ms().keys() == {"outer", "box.f"}
    assert len(t.per_call_ms()["box.f"]) == 1
    assert t.setup_s("box.f") == 0.0


def test_setup_s_is_the_median_of_setup_spans():
    t = Tracer(True)
    for _ in range(3):
        with t.span("build"):
            pass
    t.end_setup()
    t.spans[0].end = t.spans[0].start + 9.0  # a cold first build
    t.spans[1].end = t.spans[1].start + 2.0
    t.spans[2].end = t.spans[2].start + 3.0
    with t.span("build"):  # after set-up: not counted
        pass
    t.spans[3].end = t.spans[3].start + 100.0
    assert t.setup_s("build") == 3.0
    assert t.setup_s("other") == 0.0


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_inputs_are_a_function_of_the_seed():
    for fn in (
        lambda s: inputs.documents(s, 50),
        lambda s: inputs.queries(s, 4),
        lambda s: inputs.write_payloads(s, 6),
        lambda s: inputs.delete_victims(s, 50, 5),
    ):
        assert fn(3) == fn(3)
        assert fn(3) != fn(4)


def test_schedule_blocks_have_one_mix():
    sched = inputs.schedule(6)
    assert sched == inputs.schedule(6)
    assert (sched.count("search"), sched.count("add"), sched.count("delete")) == (18, 3, 3)
    for b in range(6):
        block = sched[4 * b:4 * b + 4]
        assert block[1:] == ["search"] * 3
        assert block[0] == ("delete" if b % 2 else "add")


def test_queries_distinct_and_victims_distinct():
    qs = inputs.queries(5, 8)
    assert len(set(qs)) == 8
    victims = inputs.delete_victims(5, 100, 30)
    assert len(set(victims)) == 30 and all(0 <= v < 100 for v in victims)


def test_benchmark_json_lists_every_layer_metric():
    import json
    import os

    import pytest

    import workloads

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to perfbench/")
    with open(path) as f:
        bench = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == \
        workloads.LAYER_METRICS
    assert bench["workloads"] and \
        {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
