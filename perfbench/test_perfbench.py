"""Self-test of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The gate tests run in milliseconds. The smoke tests run each workload
for a few seconds, traced and untraced (about two minutes in all),
and check that every metric BENCHMARK.json names is printed with its
unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import flowgen  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _totals(seed: int = 3, n: int = 500) -> flowgen.Totals:
    t = flowgen.Totals()
    flowgen.FlowGen(seed).lines([1573000000.0 + i for i in range(n)], t)
    return t


def test_gate_passes_generated_totals():
    r = run.Run(0, 1, False, 1)
    t = _totals()
    r.check_totals({k: list(v) for k, v in t.by_type.items()}, t)
    assert (r.attempted, r.failed) == (1, 0)


def test_gate_rejects_wrong_expected_total():
    r = run.Run(0, 1, False, 1)
    got = _totals()
    wrong = _totals()
    wrong.by_type["purge"][1] += 1  # one byte more than landed
    r.check_totals({k: list(v) for k, v in got.by_type.items()}, wrong)
    assert (r.attempted, r.failed) == (1, 1)


def test_gate_rejects_lost_and_double_landed_batches():
    r = run.Run(0, 1, False, 1)
    progress = [SimpleNamespace(batchId=b, numInputRows=10) for b in (0, 1, 2)]
    r.check_batches(["0", "2", "2"], progress)  # batch 1 lost, batch 2 twice
    assert (r.attempted, r.failed) == (3, 2)


def test_gate_rejects_a_payload_no_prefix_produces():
    r = run.Run(0, 1, False, 1)
    t = _totals()
    day_range = ("2019-11-01", "2019-11-30")
    good = t.payload(*day_range)
    r.check_payload(good, {run.canon(good)}, "dashboard")
    bad = [dict(good[0], in_events=good[0]["in_events"] + 1)] + good[1:]
    r.check_payload(bad, {run.canon(good)}, "dashboard")
    assert (r.attempted, r.failed) == (2, 1)


def test_generator_is_seeded():
    a, b = flowgen.Totals(), flowgen.Totals()
    stamps = [1573000000.0 + i for i in range(100)]
    assert flowgen.FlowGen(7).lines(stamps, a) == flowgen.FlowGen(7).lines(stamps, b)
    assert flowgen.FlowGen(8).lines(stamps, flowgen.Totals()) != flowgen.FlowGen(7).lines(stamps, a)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flow_backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "4", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    want = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    for name, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
