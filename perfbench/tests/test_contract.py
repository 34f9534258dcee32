import json
import os
import re

from perfbench.trace import PER_LAYER_UNITS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_shape():
    b = load()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"][:2] == ["python3", "perfbench/run.py"]
    assert 1 <= b["run_seconds"] <= 60
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"]] \
        + [m["name"] for m in b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower" and setup["unit"] == "s"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200


def test_per_layer_metrics_match_the_traced_run():
    b = load()
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER_UNITS
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_end_to_end_metrics_and_workloads_match_the_runner():
    from perfbench.run import END_TO_END_UNITS, WORKLOADS

    b = load()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END_UNITS
    assert tuple(w["name"] for w in b["workloads"]) == WORKLOADS
