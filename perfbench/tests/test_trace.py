"""Self time: a span's duration minus the part its children cover."""

import threading

from perfbench.trace import Span, Tracer, self_times, union_length


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_on_nested_spans():
    spans = [
        Span(0, "request", 0.0, 10.0, None, 1),
        Span(1, "plan", 1.0, 3.0, 0, 1),
        Span(2, "exec", 2.0, 5.0, 0, 1),  # overlaps its sibling
        Span(3, "decode", 2.5, 4.5, 2, 1),  # grandchild: only exec loses it
        Span(4, "late", 8.0, 12.0, 0, 1),  # runs past its parent: clipped
    ]
    own = self_times(spans)
    assert own[0] == 10.0 - (4.0 + 2.0)
    assert own[1] == 2.0
    assert own[2] == 3.0 - 2.0
    assert own[3] == 2.0
    assert own[4] == 4.0


def test_tracer_nests_per_thread_and_inherits_request():
    tracer = Tracer(True)

    def client(rid):
        with tracer.span("request", request=rid):
            with tracer.span("corpus.plan"):
                pass

    threads = [threading.Thread(target=client, args=(r,)) for r in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    by_id = {s.sid: s for s in tracer.spans}
    plans = [s for s in tracer.spans if s.name == "corpus.plan"]
    assert len(plans) == 4
    for s in plans:
        parent = by_id[s.parent]
        assert parent.name == "request" and parent.request == s.request
    assert sorted(s.request for s in plans) == [0, 1, 2, 3]


def test_disabled_tracer_records_nothing():
    tracer = Tracer(False)
    with tracer.span("request", request=1) as span:
        assert span is None
    assert tracer.spans == [] and tracer.hook_seconds == 0.0
