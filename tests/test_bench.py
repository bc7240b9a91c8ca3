"""The timing core in ``bench.py``: the min-of-N rule, the scaling
point and the stdout line, checked with a fake timer (no Spark job)."""

from __future__ import annotations

import json
import math

import pytest

import bench


@pytest.fixture
def fake_timer(monkeypatch):
    """Replace ``bench.timed`` with a clock that reads each build's
    next scripted duration; ``calls`` counts runs per build."""
    calls: dict[str, int] = {}

    def timed(build):
        name, durations = build()
        calls[name] = calls.get(name, 0) + 1
        return durations[calls[name] - 1]

    monkeypatch.setattr(bench, "timed", timed)
    return calls


@pytest.mark.parametrize(
    "durations, reps, best",
    [([9.0, 3.0, 1.5, 2.0], 3, 1.5), ([0.1, 5.0], 1, 5.0)],
)
def test_best_of_drops_cold_run_and_takes_min(fake_timer, durations, reps, best):
    assert bench.best_of(lambda: ("q", durations), reps) == best
    assert fake_timer == {"q": reps + 1}


def test_scaling_point_alpha_and_protocol(fake_timer):
    # both sides at or above 1 s: one cold + one warm run each
    p = bench.scaling_point(
        lambda: ("one", [9.0, 2.0]), lambda: ("k", [60.0, 16.0]), 8
    )
    assert p == {"t1": 2.0, "tk": 16.0, "alpha": round(math.log(8) / math.log(8), 2)}
    assert fake_timer == {"one": 2, "k": 2}


def test_scaling_point_sub_second_side_takes_min_of_three(fake_timer):
    p = bench.scaling_point(
        lambda: ("one", [5.0, 0.5, 0.4, 0.45]), lambda: ("k", [30.0, 3.0]), 10
    )
    assert fake_timer == {"one": 4, "k": 2}
    assert p["t1"] == 0.4 and p["tk"] == 3.0
    assert p["alpha"] == round(math.log(3.0 / 0.4) / math.log(10), 2)


def _full(times: dict[str, float]) -> dict:
    return {
        "metric": "headline_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": 0.1,
        "master": "local[32]",
        "default_parallelism": 32,
        "shuffle_partitions": 32,
        "queries_file": "bench_results.json",
    }


def test_stdout_line_fixed_size_ties_by_name():
    times = {f"q{i:03d}": 1.0 for i in range(60)}
    times.update(slowest=9.0, also_slow=5.0)
    line = json.loads(bench.stdout_line(_full(times)))
    kept = list(line["queries"])
    assert len(kept) == bench.STDOUT_QUERIES == 40
    assert kept[:2] == ["slowest", "also_slow"]
    assert kept[2:] == [f"q{i:03d}" for i in range(38)]
    assert line["n_queries"] == 62
    assert {"master", "default_parallelism", "shuffle_partitions"} <= set(line)


def test_stdout_line_fits_tail_budget_for_longest_names():
    longest = sorted(bench.BENCH_QUERIES, key=len, reverse=True)[:40]
    line = bench.stdout_line(_full({q: 123.456 for q in longest}))
    assert len(line) <= 1800
    assert len(json.loads(line)["queries"]) == 40


def test_stdout_line_names_errors_only():
    full = dict(_full({"a": 1.0}), errors={"b": "ValueError: " + "x" * 190})
    assert json.loads(bench.stdout_line(full))["errors"] == ["b"]
