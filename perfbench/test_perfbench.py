"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run every workload at a tiny input scale for about a
second of measurement, traced and untraced, and assert that every metric
BENCHMARK.json names is emitted with its unit.  Each smoke run starts its
own Spark driver, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import oracles as O
from perfbench.harness import Tracer
from perfbench.run import ROOT, closed_loop, end_to_end
from perfbench.workloads import WORKLOADS, JoinDenseShuffle

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_benchmark_json_names_every_workload():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_emits_every_metric(workload, trace):
    out = run_bench(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, out
    assert out["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert sorted(out["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_corrupted_result_counts_as_failed(tmp_path):
    """A wrong answer is counted against ok_frac and never aborts the loop."""
    rng = np.random.default_rng(0)
    lng = rng.integers(-720, 720, 5000) / 4 + 0.125
    lat = rng.integers(-320, 320, 5000) / 4 + 0.125
    wl = JoinDenseShuffle(None, str(tmp_path), 0, Tracer(False), 0.01)
    wl.expected = O.region_counts(lng, lat, 96)
    corrupted = dict(wl.expected)
    corrupted[next(iter(corrupted))] += 1
    answers = iter([wl.expected, corrupted, wl.expected, wl.expected])
    wl.op = lambda i: next(answers)
    closed_loop(wl, 0.0)
    m = end_to_end(wl, 1.0, 1.0)
    assert (wl.log.attempted, wl.log.failed) == (4, 1)
    assert m["ok_frac"] == pytest.approx(0.75)
    assert "region counts differ" in wl.log.errors[0]


def test_exception_counts_as_failed(tmp_path):
    wl = JoinDenseShuffle(None, str(tmp_path), 0, Tracer(False), 0.01)
    wl.expected = {}

    def op(i):
        if i == 1:
            raise RuntimeError("lost executor")
        return {}
    wl.op = op
    closed_loop(wl, 0.0)
    assert (wl.log.attempted, wl.log.failed) == (4, 1)
    assert "lost executor" in wl.log.errors[0]


def test_oracles_reject_wrong_answers():
    pid = np.arange(50)
    rng = np.random.default_rng(1)
    lng = rng.integers(-720, 720, 50) / 4 + 0.125
    lat = rng.integers(-320, 320, 50) / 4 + 0.125
    clng, clat = O.region_centers(96)
    d = O.haversine_m(lng[:, None], lat[:, None], clng[None, :], clat[None, :])
    pairs = [(int(p), int(r)) for p, r in zip(*np.nonzero(d <= 2e6))]
    assert O.check_dwithin(pairs, pid, lng, lat, 96, 2e6) == ""
    assert O.check_dwithin(pairs[1:], pid, lng, lat, 96, 2e6) != ""
    top = np.argsort(d, axis=1)[:, :3]
    rows = [(int(p), k + 1, int(top[p, k])) for p in pid for k in range(3)]
    assert O.check_knn(rows, pid, lng, lat, 96, 3) == ""
    swapped = rows[:]
    swapped[0] = (swapped[0][0], 1, int(np.argsort(d[0])[5]))
    assert O.check_knn(swapped, pid, lng, lat, 96, 3) != ""


def test_ngon_area_limits():
    """Many vertices tend to the spherical cap; a tiny square to 2 theta^2."""
    theta = 0.05
    cap = 2 * np.pi * O.EARTH_R ** 2 * (1 - np.cos(theta))
    assert O.ngon_area_m2(100_000, theta) == pytest.approx(cap, rel=1e-8)
    assert O.ngon_area_m2(4, 1e-4) == pytest.approx(2e-8 * O.EARTH_R ** 2, rel=1e-7)
