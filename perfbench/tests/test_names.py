"""Every metric the benchmark prints is named in BENCHMARK.json, and the
file keeps the shape the benchmark contract asks for."""

import json

from perfbench import layers, run
from perfbench.workloads import RunResult, SHAPES

SPEC = json.loads(run.SPEC.read_text())


def names(section):
    return [m["name"] for m in SPEC[section]]


def test_end_to_end_names_match():
    out = RunResult(query_wall_s=2.0, turns_indexed=10, text_bytes=100, index_bytes=200,
                    peak_rss_mb=1.0)
    out.add("build", 1.0)
    out.samples = []
    from perfbench.workloads import Sample
    from perfbench.gen import Request

    out.samples.append(Sample(0, Request("sel_term", ("w0001",)), 0, 0.0, 0.5))
    metrics = run.end_to_end(out, 3.0)
    assert list(metrics) == names("end_to_end")
    assert all(v > 0 for v in metrics.values())
    assert set(run.units("end_to_end")) == set(metrics)


def test_per_layer_names_match():
    assert list(layers.METRICS) == names("per_layer")
    assert len(set(layers.METRICS)) == len(layers.METRICS)


def test_workloads_match():
    assert tuple(names("workloads")) == run.WORKLOADS == tuple(SHAPES)


def test_contract_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
