"""Span reductions and the event-log parser.

``data/eventlog.jsonl`` is the job, stage and task events of a real
Spark 4.1 event log, written by ``make_eventlog.py`` in this
directory: one job outside any span, one job in span 0 and one
two-stage job in its child span 1."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tracing import GROUP_PREFIX, Span, Tracer, parse_event_log  # noqa: E402


def tracer_with(*spans: tuple[str, float, float, int | None]) -> Tracer:
    t = Tracer()
    t.spans = [Span(name, start, parent, end) for name, start, end, parent in spans]
    return t


def test_self_time_subtracts_the_union_of_children():
    t = tracer_with(
        ("root", 0.0, 10.0, None),
        ("a", 1.0, 4.0, 0),
        ("b", 3.0, 5.0, 0),   # overlaps a: the union is 1..5
        ("c", 2.0, 3.0, 1),   # grandchild: covered by a, not by root
        ("root", 20.0, 21.0, None),
    )
    own = t.self_times()
    assert own["root"] == pytest.approx(10 - 4 + 1)
    assert own["a"] == pytest.approx(3 - 1)
    assert own["b"] == pytest.approx(2)
    assert own["c"] == pytest.approx(1)
    assert t.totals()["root"] == pytest.approx(11)


def test_spans_nest_and_close():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert (outer.parent, inner.parent) == (None, 0)
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_counters_go_to_the_enclosing_top_level_span():
    t = tracer_with(("x", 0, 1, None), ("y", 0, 1, 0), ("z", 2, 3, None))
    by_group = {
        f"{GROUP_PREFIX}1": {"jobs": 2, "tasks": 5},
        f"{GROUP_PREFIX}2": {"jobs": 1, "tasks": 1},
        "": {"jobs": 7, "tasks": 7},
    }
    out = t.spark_by_root(by_group)
    assert out["x"]["jobs"] == 2 and out["x"]["tasks"] == 5
    assert out["z"]["jobs"] == 1
    assert set(out) == {"x", "z"}


def test_parse_committed_event_log():
    with open(os.path.join(HERE, "data", "eventlog.jsonl")) as f:
        got = parse_event_log(f)
    outside, span0, span1 = got[""], got[f"{GROUP_PREFIX}0"], got[f"{GROUP_PREFIX}1"]
    assert (outside["jobs"], outside["tasks"]) == (1, 3)
    assert (span0["jobs"], span0["tasks"]) == (1, 2)
    assert span0["shuffle_write_bytes"] == 0
    # parallelize(4 slices) -> reduceByKey(2 partitions): 4 map tasks
    # writing shuffle output, then 2 reduce tasks
    assert (span1["jobs"], span1["tasks"]) == (1, 6)
    assert span1["shuffle_write_bytes"] > 0
    for counters in got.values():
        assert counters["executor_cpu_s"] >= 0 and counters["gc_s"] >= 0
