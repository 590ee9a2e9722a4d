"""BENCHMARK.json stays inside its format limits, and perfbench/spec.py
covers every workload and layer it names.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import spec  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128


def test_top_level_shape():
    b = spec.benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60


def test_names_units_and_limits():
    b = spec.benchmark()
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= MAX_END_TO_END
    assert 1 <= len(b["per_layer"]) <= MAX_PER_LAYER
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT_RE.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {m["name"]: m for m in b["end_to_end"]}["setup_s"]["bound"] == max(
        m["bound"] for m in b["end_to_end"])


def test_spec_covers_benchmark():
    assert [w["name"] for w in spec.benchmark()["workloads"]] == list(spec.WORKLOADS)
    assert set(spec.units("end_to_end")) == set(spec.END_TO_END)
    assert {spec.layer(m) for m in spec.units("per_layer")} == set(spec.LAYERS)
