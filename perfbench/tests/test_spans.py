"""Span tree bookkeeping: job attachment and self times."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from eventlog import Job  # noqa: E402
from spans import Span, Tracer, union_length  # noqa: E402


def tree() -> Tracer:
    """run[0,10] > pass[1,9] > step[1,5] > {plans[1,2], operators[2,5]},
    step[5,9] > operators[5,9]; plus a span from another thread nested
    under the second operators span."""
    t = Tracer()
    rows = [
        ("run", 0, 10, None), ("pass", 1, 9, 0), ("step", 1, 5, 1), ("plans", 1, 2, 2),
        ("operators", 2, 5, 2), ("step", 5, 9, 1), ("operators", 5, 9, 5),
        ("writers.write_run_stamped", 6, 7, 6),
    ]
    for name, lo, hi, parent in rows:
        t.spans.append(Span(len(t.spans), name, float(lo), float(hi), parent=parent))
    return t


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_jobs_attach_to_innermost_open_span():
    t = tree()
    t.add_jobs([Job(1, 1500, 1800), Job(2, 3000, 4000), Job(3, 6200, 6800), Job(4, 9500, 9700)])
    parent = {s.attrs["job_id"]: t.spans[s.parent].name for s in t.spans if s.name == "spark.job"}
    assert parent == {1: "plans", 2: "operators", 3: "writers.write_run_stamped", 4: "run"}


def test_self_times_sum_to_root_wall():
    t = tree()
    t.add_jobs([Job(1, 1500, 1800), Job(2, 3000, 4000), Job(3, 6200, 6800), Job(4, 9500, 9700)])
    self_t = t.self_times()
    assert sum(self_t.values()) == pytest.approx(t.spans[0].dur)
    ops = t.spans[4]  # operators[2,5] with one job of 1 s: 2 s of driver-side time
    assert self_t[ops.sid] == pytest.approx(2.0)


def test_live_spans_nest_and_wrap_records_calls():
    t = Tracer()
    traced = t.wrap("readers.load_table", lambda x: x + 1)
    with t.span("step", step="q3"):
        with t.span("plans"):
            assert traced(1) == 2
    names = [(s.name, s.step, t.spans[s.parent].name if s.parent is not None else None) for s in t.spans]
    assert names == [("step", "q3", None), ("plans", "q3", "step"), ("readers.load_table", "q3", "plans")]
    assert all(s.end >= s.start for s in t.spans)


def test_self_times_count_concurrent_jobs_once():
    t = tree()
    # two overlapping jobs under operators[2,5] and one running past its end
    t.add_jobs([Job(1, 2000, 3500), Job(2, 3000, 4000), Job(3, 4500, 5600)])
    self_t = t.self_times()
    assert sum(self_t.values()) == pytest.approx(t.spans[0].dur)
    ops = t.spans[4]
    assert self_t[ops.sid] == pytest.approx(0.5)  # [4.0, 4.5] only
