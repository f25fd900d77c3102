"""The closed loop sends whole rounds, stops once the time is up and keeps
every client busy until the last timed request returns."""

import sys
import time
from types import SimpleNamespace

from perfbench import gen, workloads
from perfbench.trace import Tracer


def test_burst_sends_whole_rounds(monkeypatch, tmp_path):
    monkeypatch.setattr(workloads, "plan", lambda corpus, req, tracer: lambda: time.sleep(0.001))
    h = workloads.Harness(SimpleNamespace(sparkContext=None), tmp_path, Tracer(False))
    requests = [gen.Request("sel_term", (f"w{i:04d}",)) for i in range(1, 5000)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # more thread switches inside the shared counter
    try:
        for clients, round_size in ((1, 5), (8, 6), (16, 7), (3, 1)):
            samples = h.burst(None, requests, 0.05, clients, workloads.BASE, round_size)
            timed = [s for s in samples if s.state == workloads.BASE]
            drain = [s for s in samples if s.state == workloads.DRAIN]
            assert len(timed) >= round_size and len(timed) % round_size == 0
            assert len(timed) + len(drain) == len(samples)
            assert len({s.req.key for s in samples}) == len(samples)
            assert clients > 1 or not drain
    finally:
        sys.setswitchinterval(interval)
    assert len(h.burst(None, requests[:7], float("inf"), 4, workloads.BASE, 5)) == 7
