"""Metric names, BENCHMARK.json agreement, and the sample-count rule."""

import json
import os
import re

import pytest

from perfbench import metrics as M
from perfbench import stats as S

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_names_and_units_are_valid_and_unique():
    b = _benchmark()
    names = [m["name"] for m in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert [n for n in names if not NAME_RE.match(n)] == []
    assert len(names) == len(set(names))
    units = [m["unit"] for m in b["end_to_end"] + b["per_layer"]]
    assert [u for u in units if not UNIT_RE.match(u)] == []
    assert all(m["better"] in ("higher", "lower") for m in b["end_to_end"] + b["per_layer"])


def test_benchmark_json_matches_metric_definitions():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]}
    assert e2e == M.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == M.PER_LAYER
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in b["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert e2e["setup_s"] == ("s", "lower", max(v[2] for v in e2e.values()))
    from perfbench.run import WORKLOADS

    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])


def test_metric_block_reports_every_metric():
    block = M.metric_block({"setup_s": 1.5}, M.END_TO_END)
    assert set(block) == set(M.END_TO_END)
    assert block["setup_s"] == {"value": 1.5, "unit": "s"}
    assert block["cpu_ms_per_work"]["value"] == 0


@pytest.mark.parametrize(
    "n,expected",
    [(5, None), (19, None), (39, None), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert S.tail_percentile(n) == expected


def test_summarize_reports_count_median_and_supported_tail():
    xs = [float(i) for i in range(1, 101)]
    s = S.summarize(xs)
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["p90"] == pytest.approx(90.1)
    assert set(S.summarize([3.0, 1.0, 2.0])) == {"n", "p50"}
    assert S.describe([3.0, 1.0, 2.0]) == "n=3"
    assert S.describe(xs) == "n=100, p90=90.1"
    with pytest.raises(ValueError):
        S.summarize([])
