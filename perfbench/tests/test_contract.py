"""BENCHMARK.json stays in step with what run.py reports."""

import json
import os
import re

from perfbench import metrics, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_keys_and_workloads():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    names = [w["name"] for w in spec["workloads"]]
    assert tuple(names) == workloads.WORKLOADS
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert "\n" not in w["why"] and len(w["why"]) <= 200


def test_metrics_match_the_reported_ones():
    spec = _spec()
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert list(e2e) == list(metrics.END_TO_END)
    for name, (unit, better) in metrics.END_TO_END.items():
        m = e2e[name]
        assert set(m) == {"name", "unit", "better", "bound"}
        assert (m["unit"], m["better"]) == (unit, better)
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layer = {m["name"]: m for m in spec["per_layer"]}
    assert list(layer) == list(metrics.PER_LAYER)
    for name, (unit, better) in metrics.PER_LAYER.items():
        assert set(layer[name]) == {"name", "unit", "better"}
        assert (layer[name]["unit"], layer[name]["better"]) == (unit, better)
    every = list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]
    assert len(every) == len(set(every))
    for name in every:
        assert NAME.match(name), name
    for m in list(e2e.values()) + list(layer.values()):
        assert UNIT.match(m["unit"]), m["unit"]
