"""The result lines carry exactly the metrics BENCHMARK.json lists."""

import json

import run
from common import ROOT


def _manifest():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def test_traced_line_has_every_per_layer_metric():
    listed = {m["name"]: m["unit"] for m in _manifest()["per_layer"]}
    names = run.layer_names()
    assert len(names) == len(set(names))
    assert {k: run.unit_of(k) for k in names} == listed


def test_each_workload_owns_a_subset_and_probes_fill_the_rest():
    names = set(run.layer_names())
    for w in run.WORKLOADS:
        own = set(run.own_layers(w))
        assert own <= names, w
        assert "session.start_s" in own and "trace.overhead_ms" in own


def test_untraced_line_has_every_end_to_end_metric():
    m = _manifest()
    assert {e["name"]: e["unit"] for e in m["end_to_end"]} == run.END_TO_END
    assert {w["name"] for w in m["workloads"]} == set(run.WORKLOADS)
