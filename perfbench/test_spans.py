"""Self-time and job-window arithmetic of the tracer, on synthetic spans."""

from __future__ import annotations

import threading

from perfbench import spans


class _Script:
    """Returns the next scripted value on each call."""

    def __init__(self, values):
        self.values = list(values)

    def __call__(self):
        return self.values.pop(0)


def test_self_times_sum_to_wall_time():
    # root [0,10] > a [1,4] > a1 [2,3];  root > b [5,9] > b1 [6,8]
    clock = _Script([0, 1, 2, 3, 4, 5, 6, 8, 9, 10])
    jobs = _Script([0, 0, 1, 2, 3, 3, 3, 5, 6, 6])
    tr = spans.Tracer(next_job_id=jobs, clock=clock)
    root = tr.open("op.x", "bench")
    a = tr.open("operators.dedup.f", "operators.dedup")
    a1 = tr.open("schemas.load_table", "schemas")
    tr.close(a1)
    tr.close(a)
    b = tr.open("execute.save", "execute")
    b1 = tr.open("operators.text.g", "operators.text")
    tr.close(b1)
    tr.close(b)
    tr.close(root)

    want = {root: 3.0, a: 2.0, a1: 1.0, b: 2.0, b1: 2.0}
    assert {i: tr.self_time(i) for i in want} == want
    assert sum(tr.self_time(i) for i in [root] + tr.descendants(root)) == 10.0

    # Job windows: root [0,6), a [0,3), a1 [1,2), b [3,6), b1 [3,5).
    assert tr.jobs(root) == set(range(0, 6))
    assert tr.self_jobs(root) == set()
    assert tr.self_jobs(a) == {0, 2}
    assert tr.self_jobs(a1) == {1}
    assert tr.self_jobs(b) == {5}
    assert tr.self_jobs(b1) == {3, 4}


def test_overlapping_children_are_not_double_counted():
    tr = spans.Tracer()
    tr.spans = [
        spans.Span("op", "bench", 1, None, 0.0, 0, end=10.0, children=[1, 2]),
        spans.Span("x", "execute", 1, 0, 2.0, 0, end=6.0),
        spans.Span("y", "operators.text", 1, 0, 4.0, 0, end=8.0),
    ]
    assert tr.self_time(0) == 4.0  # [2,8] covered


def test_worker_thread_span_nests_under_main_thread_span():
    tr = spans.Tracer()
    outer = tr.open("execute.awaitTermination", "execute")
    def work():
        tr.close(tr.open("operators.scoring.f", "operators.scoring"))

    t = threading.Thread(target=work)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    tr.close(outer)
    assert tr.spans[1].parent == outer
    assert tr.spans[outer].children == [1]


def test_patcher_wraps_every_alias_and_restores():
    import __spark_entry__ as entry
    from data_lakehouse_hygiene_spark import pipeline, schemas

    original = schemas.load_table
    tr = spans.Tracer()
    p = spans.Patcher()
    n = spans.install(tr, p, {"schemas": schemas})
    try:
        assert n >= 3  # schemas, pipeline and __spark_entry__ all bind it
        assert schemas.load_table is pipeline.load_table is entry.load_table
        assert schemas.load_table is not original
    finally:
        p.undo()
    assert schemas.load_table is original and entry.load_table is original


def test_concurrent_spans_keep_a_consistent_tree():
    import sys

    tr = spans.Tracer()
    outer = tr.open("execute.awaitTermination", "execute")

    def work():
        for _ in range(200):
            a = tr.open("operators.scoring.f", "operators.scoring")
            tr.close(tr.open("schemas.load_table", "schemas"))
            tr.close(a)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    tr.close(outer)

    assert len(tr.spans) == 1 + 16 * 200 * 2
    assert sum(len(s.children) for s in tr.spans) == len(tr.spans) - 1
    for i, s in enumerate(tr.spans[1:], start=1):
        want = outer if s.layer == "operators.scoring" else None
        if want is not None:
            assert s.parent == want
        else:
            assert tr.spans[s.parent].layer == "operators.scoring"
        assert s.end >= s.start
