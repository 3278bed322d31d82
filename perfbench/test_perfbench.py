"""The benchmark's own tests; they start no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans as tr  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for name in names:
            path = os.path.join(d, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _write_inputs(root: str, seed: int) -> None:
    gen.write_landing(os.path.join(root, "landing"), seed, 24, 2_400)
    gen.write_tables(os.path.join(root, "sf"), seed, 0.001)


def test_generator_same_seed_same_bytes(tmp_path):
    _write_inputs(str(tmp_path / "a"), 5)
    _write_inputs(str(tmp_path / "b"), 5)
    _write_inputs(str(tmp_path / "c"), 6)
    a, b, c = (_tree(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_manifest_counts_planted_rows(tmp_path):
    m = gen.write_landing(str(tmp_path / "landing"), 3, 24, 2_400)
    deaths, recovered = gen.planted(2_400)
    assert m["dq_failed"]["covid_deaths_lte_confirmed"] == deaths > 0
    assert m["dq_failed"]["covid_rate_bounds"] == deaths + recovered
    assert m["quality_score"] == 83.33  # 10 of 12 rules pass, as in the reference
    with open(tmp_path / "landing" / "covid_20240301120000.csv") as fh:
        rows = [line.split(",") for line in fh.read().splitlines()[1:]]
    assert len(rows) == m["bronze"]["covid"] == 2_400
    assert sum(int(r[5]) > int(r[3]) for r in rows) == deaths
    assert sum(int(r[4]) > int(r[3]) for r in rows) == recovered


def test_journal_check_accepts_match_and_flags_mismatch(tmp_path):
    m = gen.write_landing(str(tmp_path / "landing"), 3, 24, 2_400)
    journal = {
        "status": "SUCCESS",
        "layers": {
            "bronze": {"records": dict(m["bronze"])},
            "silver": {"records": dict(m["silver"])},
            "quality": {
                "quality_score": m["quality_score"],
                "checks": [{"check_name": k, "failed_count": v}
                           for k, v in m["dq_failed"].items()],
            },
        },
    }
    assert run.journal_mismatches(journal, m) == []
    journal["layers"]["quality"]["checks"][0]["failed_count"] += 1
    journal["layers"]["silver"]["records"]["clean_covid"] -= 1
    assert len(run.journal_mismatches(journal, m)) == 2
    assert run.journal_mismatches({"status": "FAILED", "layers": {}}, m)


def _span(name, layer, start, end, parent):
    return tr.Span(name, layer, start, parent, 0, None, end)


def test_self_times_and_residual_add_up_to_wall():
    spans = [
        _span("it", tr.ROOT, 0.0, 10.0, None),
        _span("b", "bronze", 0.5, 3.0, 0),
        _span("w", "writers", 3.0, 7.0, 0),
        _span("c", "action", 7.5, 9.0, 0),
        _span("q", "quality", 9.0, 9.8, 0),
        _span("q-action", "action", 9.1, 9.6, 4),
    ]
    own = tr.self_times(spans)
    assert all(t >= 0 for t in own)
    assert own[4] == pytest.approx(0.3)
    totals = tr.layer_self_times(spans)
    assert sum(totals.values()) == pytest.approx(10.0)
    assert totals[tr.RESIDUAL_METRIC] == pytest.approx(0.5 + 0.5 + 0.2)
    assert totals["action.exec_s"] == pytest.approx(2.0)


class _Layer:
    @staticmethod
    def build(x):
        return x + 1

    @staticmethod
    def act(x):
        return _Layer.build(x) * 2


def test_tracer_records_nested_spans_and_restores():
    build, act = _Layer.build, _Layer.act
    tracer = tr.Tracer()
    tracer.wrap(_Layer, "build", "plans")
    tracer.wrap(_Layer, "act", "action")
    with tracer.iteration(3):
        assert _Layer.act(1) == 4
        assert _Layer.build(1) == 2
    tracer.unwrap()
    assert (_Layer.build, _Layer.act) == (build, act)
    spans = tracer.spans_of(3)
    assert [s.layer for s in spans] == [tr.ROOT, "action", "plans", "plans"]
    assert [s.parent for s in spans] == [None, 0, 1, 0]
    own = tr.self_times(spans)
    assert all(t >= 0 for t in own)
    totals = tr.layer_self_times(spans)
    assert sum(totals.values()) == pytest.approx(spans[0].duration, abs=1e-12)


def test_busy_seconds_is_union_of_intervals():
    stages = [
        {"start_ms": 0, "end_ms": 1000},
        {"start_ms": 500, "end_ms": 1500},
        {"start_ms": 3000, "end_ms": 3500},
        {"start_ms": None, "end_ms": None},
    ]
    assert tr.busy_seconds(stages) == pytest.approx(2.0)


def test_metric_names_and_benchmark_json_agree():
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        assert NAME.fullmatch(name), name
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER)
    for m in bench["end_to_end"] + bench["per_layer"]:
        units = run.END_TO_END if m in bench["end_to_end"] else run.PER_LAYER
        assert m["unit"] == units[m["name"]]
    assert [w["name"] for w in bench["workloads"]] == sorted(run.WORKLOADS)
