import pytest

from tracing import Span, Tracer, ledger_gap_frac, self_times


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("pass", 0.0, 10.0, None, "p"),
        Span("a", 1.0, 3.0, 0, "p"),
        Span("b", 2.0, 5.0, 0, "p"),  # overlaps a: [1, 5] is covered once
        Span("c", 6.0, 7.0, 0, "p"),
        Span("c.inner", 6.5, 6.75, 3, "p"),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 0.75, 0.25])


def test_ledger_gap_is_the_share_no_top_level_span_covers():
    spans = [
        Span("pass", 0.0, 10.0, None, "p"),
        Span("plan", 0.0, 4.0, 0, "p"),
        Span("action", 4.0, 9.0, 0, "p"),
        Span("nested", 4.0, 8.0, 2, "p"),  # not top-level: not summed
    ]
    assert ledger_gap_frac(spans, 0) == pytest.approx(0.1)


class _FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, d):
        self.descriptions.append(d)


def test_tracer_records_parents_and_names_spark_jobs():
    sc = _FakeContext()
    ticks = iter(range(100))
    t = Tracer(True, sc, counters=lambda: (float(next(ticks)), 0.0))
    with t.span("pass", "warm0"):
        with t.span("result.validated", "warm0"):
            pass
    assert [(s.name, s.parent, s.pass_id) for s in t.spans] == [
        ("pass", None, "warm0"), ("result.validated", 0, "warm0")]
    assert sc.descriptions == ["warm0/pass", "warm0/result.validated", "warm0/pass", None]
    assert t.spans[1].cpu_s == 1.0 and t.spans[0].cpu_s == 3.0


def test_disabled_tracer_records_nothing():
    sc = _FakeContext()
    t = Tracer(False, sc, counters=lambda: (0.0, 0.0))
    with t.span("pass", "warm1"):
        pass
    assert t.spans == [] and sc.descriptions == []
