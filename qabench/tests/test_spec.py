from __future__ import annotations

import json
import math
import os

import pytest

from qabench import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _values(trace: bool, scale: float = 1.0) -> dict[str, float]:
    return {k: (i + 1) * scale for i, k in enumerate(spec.metric_units(trace))}


@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_printed_with_unit(trace):
    line = spec.result_line(True, 5, 0, _values(trace), trace)
    assert "\n" not in line
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {
        k: {"value": v, "unit": spec.metric_units(trace)[k]}
        for k, v in _values(trace).items()
    }


def test_fast_metric_that_regressed_still_prints():
    # the line must not shed its smallest or fastest entries to fit a
    # length budget: a sub-microsecond metric that doubled is still there
    vals = _values(True, scale=1e3)
    vals["lineage.resume_noop_s"] = 2e-7
    vals["kernel.task_skew"] = 1e-9
    out = json.loads(spec.result_line(True, 1, 0, vals, True))
    assert out["metrics"]["lineage.resume_noop_s"]["value"] == 2e-7
    assert out["metrics"]["kernel.task_skew"]["value"] == 1e-9
    assert len(out["metrics"]) == len(spec.PER_LAYER)


def test_unmeasured_or_unknown_metric_is_an_error():
    vals = _values(False)
    del vals["setup_s"]
    with pytest.raises(ValueError, match="setup_s"):
        spec.result_line(True, 1, 0, vals, False)
    with pytest.raises(ValueError, match="bogus"):
        spec.result_line(True, 1, 0, {**_values(False), "bogus": 1.0}, False)
    with pytest.raises(ValueError, match="not finite"):
        spec.result_line(True, 1, 0, {**_values(False), "setup_s": math.nan}, False)
    with pytest.raises(ValueError):
        spec.result_line(True, 0, 0, _values(False), False)


def test_failed_passes_are_reported():
    out = json.loads(spec.result_line(False, 7, 2, _values(False), False))
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 7, 2)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["command"][:2] == ["python3", "qabench/run.py"]
    assert b["paths"] == ["qabench"]
    assert [(w["name"], w["why"]) for w in b["workloads"]] == list(
        spec.WORKLOADS.items())
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in b["end_to_end"]] == spec.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in b["per_layer"]] == spec.PER_LAYER
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in b["end_to_end"]:
        assert m["bound"] <= 0.25
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
