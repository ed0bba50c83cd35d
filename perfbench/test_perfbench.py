"""Tests of the benchmark itself: seeded inputs, the result check, and
the metric names it prints against BENCHMARK.json.

    python -m pytest perfbench -q

The end-to-end tests run the command at the workloads' own sizes with
``--seconds 1`` and start Spark each time (under a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import data, trace, workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generators_are_deterministic_per_seed():
    for gen in data.GENERATORS.values():
        a, b, c = gen(7, 5000), gen(7, 5000), gen(8, 5000)
        assert a.equals(b)
        assert not a.equals(c)


def test_cache_returns_the_generated_table(tmp_path):
    first = data.cached_table(str(tmp_path), "ingest", 3)
    again = data.cached_table(str(tmp_path), "ingest", 3)
    assert first.equals(again)
    assert again.equals(data.ingest_table(3))
    assert again.num_rows == data.INGEST_ROWS
    assert os.listdir(tmp_path) == [os.path.basename(data.cache_path(str(tmp_path), "ingest", 3))]


def test_result_check_catches_a_corrupted_result():
    want = data.bulk_answers(data.bulk_table(5, 20_000))["agg"]
    assert data.same_rows(list(want), want)
    wrong_int = [(want[0][0], want[0][1] + 1) + want[0][2:]] + want[1:]
    wrong_float = [want[0][:4] + (want[0][4] * 1.001 + 1.0,) + want[0][5:]] + want[1:]
    assert not data.same_rows(wrong_int, want)
    assert not data.same_rows(wrong_float, want)
    assert not data.same_rows(want[1:], want)
    # summation order alone must not fail the check
    reordered = [want[0][:4] + (want[0][4] * (1 + 1e-12),) + want[0][5:]] + want[1:]
    assert data.same_rows(reordered, want)


class _FakeWorkload:
    """Two jobs a round, the second returning a corrupted result."""

    class table:
        num_rows = 10

    def round(self, spark, i):
        good = [(1, 2.0)]
        return [
            workloads.Job("good", lambda s: None, good, 10, act=lambda df: list(good)),
            workloads.Job("bad", lambda s: None, good, 10, act=lambda df: [(1, 3.0)]),
        ]


def test_timed_loop_counts_a_wrong_result_as_failed():
    loop = workloads.timed_loop(_FakeWorkload(), None, 0)
    assert loop["attempted"] == 2
    assert loop["failed"] == 1
    assert list(loop["lat"]) == ["good"]


def test_tail_is_highest_percentile_with_ten_beyond():
    assert workloads.tail([1.0, 3.0, 2.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(40)]
    value, pct = workloads.tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == 75.0


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.UNITS
    ev = dict.fromkeys(
        ["tasks", "sched_ms", "deser_ms", "run_ms", "gc_ms", "shuffle_bytes", "fetch_wait_ms"], 0.0
    )
    got = workloads.layer_metrics(
        trace.Tracer(), ev, {"lat": {"count": [1.0]}}, [0.1], [0.2], [1.0],
        {"query_p50_s": 1.0, "rows_per_s": 1.0},
    )
    assert {k: u for k, (_v, u) in got.items()} == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = _bench()["command"] + ["--workload", "bulk_scan", "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _run(workload: str, traced: int) -> dict:
    cmd = _bench()["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(traced),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in _bench()["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in _bench()["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    out = _run("ingest", 1)
    assert out["correct"]
    assert set(out["metrics"]) == {m["name"] for m in _bench()["per_layer"]}
    assert out["metrics"]["replay.misses"]["value"] == 0
    assert out["metrics"]["tcp_client.blocks"]["value"] > 0
