"""The printed metric names against BENCHMARK.json, the tail guard and
failure accounting."""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from spans import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_sets_match_benchmark_json():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in b["workloads"]} == set(run.WORKLOADS)


def test_names_and_units_follow_the_grammar():
    b = _bench()
    names = [m["name"] for k in ("end_to_end", "per_layer", "workloads") for m in b[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    units = [m["unit"] for k in ("end_to_end", "per_layer") for m in b[k]]
    assert all(UNIT.match(u) for u in units)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def test_result_line_prints_exactly_the_declared_names():
    values = {k: 1.5 for k in run.END_TO_END}
    line = json.loads(run.result_line(True, 3, 0, values, traced=False))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {k: {"value": 1.5, "unit": u} for k, u in run.END_TO_END.items()}
    with pytest.raises(ValueError):
        run.result_line(True, 3, 0, {**values, "extra_s": 1.0}, traced=False)
    with pytest.raises(ValueError):
        run.result_line(True, 3, 0, values, traced=True)


def test_p90_guard_fails_loudly_below_100_samples():
    with pytest.raises(ValueError, match="p90 needs at least 100 samples, got 99"):
        run.percentile([float(i) for i in range(99)], 90)
    assert run.percentile([float(i) for i in range(100)], 90) == 90.0


def test_an_op_that_raises_is_timed_and_counted_as_failed(tmp_path, monkeypatch):
    def boom(spark, data_dir):
        time.sleep(0.05)
        raise RuntimeError("op broke")

    bench = object.__new__(run.Bench)
    bench.workload, bench.seed, bench.seconds, bench.traced = "batch", 1, 0.0, False
    bench.ops, bench.sink, bench.scale, bench.tables = ("boom",), False, "sf0.001", ()
    bench.work = bench.tmp = str(tmp_path)
    bench.queries, bench.tracer, bench.spark = {"boom": boom}, Tracer(), None
    bench.results, bench.tmp_left, bench.cached_rdds = [], 0, 0
    monkeypatch.setattr(bench, "make_data", lambda *a, **k: str(tmp_path))
    passes = bench.run_passes()
    # The pass keeps its real time: a broken op must not read as a speedup.
    assert len(passes) == 1 and passes[0] >= 0.05
    failures = bench.check()
    assert [(f["op"], f["query"]) for f in failures] == [("batch-p0-0", "boom")]
    assert "op broke" in failures[0]["error"]
    line = json.loads(run.result_line(not failures, 1, len(failures), {"setup_s": 1.0, "job_s": passes[0]}, False))
    assert line["correct"] is False and line["failed"] == 1


def test_missing_engine_exits_nonzero_without_a_result(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    code = run.main(["--workload", "batch", "--seed", "1", "--seconds", "1"])
    assert code != 0
    assert capsys.readouterr().out == ""
