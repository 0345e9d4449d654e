"""Span bookkeeping: parents, job descriptions and self time."""

import spans


class _Context:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


def test_parents_descriptions_and_self_time(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 6.0, 10.0])
    monkeypatch.setattr(spans.time, "time", lambda: next(clock))
    sc = _Context()
    tr = spans.Tracer("r1", sc)
    with tr.span("parent"):  # 0 .. 10
        with tr.span("a"):  # 1 .. 3
            pass
        with tr.span("a"):  # 4 .. 6
            pass
    assert [(s.name, s.parent, s.run_id) for s in tr.spans] == [
        ("parent", None, "r1"), ("a", 0, "r1"), ("a", 0, "r1"),
    ]
    # each span labels its Spark jobs, and hands the label back on exit
    assert sc.descriptions == ["parent", "a", "parent", "a", "parent", None]
    assert tr.self_times() == {"parent": 6.0, "a": 4.0}
