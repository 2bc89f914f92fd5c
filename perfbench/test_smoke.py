"""Smoke test of the benchmark at toy size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload in both modes on a 2% input for one second and checks
the printed result line; checks that the oracle comparison flags a perturbed
result. Takes a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys

import pytest

import gen
import run

TOY = 0.02


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_workload_prints_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(TOY)],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = _declared("per_layer" if trace else "end_to_end")
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    record = json.loads(lines[-2])["record"]
    assert record["input"]["turns"] > 0
    assert set(record["units"]) == set(record["metrics"])
    if not trace:
        assert record["units"]["turns_per_s"] == "turns/s"
        assert record["metrics"]["fail_ratio"] == 0
        assert ("resume_s" in record["metrics"]) == (workload == "skewed_job")


def _oracle_result(info: dict) -> dict:
    """The result a correct job reports, rebuilt from the oracle."""
    o = info["oracle"]
    aggs = [
        {"_sink": s, "role": r, "turn_count": t, "tool_call_count": c, "n_convs": n}
        for s, r, t, c, n in o["aggs"]
    ]
    return {"aggs": aggs, "rollups": o["rollups"], "sink_rows": dict(o["sink_rows"])}


def test_perturbed_result_is_flagged():
    run._check_program()
    sf_dir, info = run.prepare_input("skewed_job", 3, TOY)
    runner = run.Runner("skewed_job", 3, sf_dir, info)
    good = _oracle_result(info)
    assert runner.check("exact", good)

    turn = copy.deepcopy(good)
    turn["aggs"][0]["turn_count"] += 1
    lost = copy.deepcopy(good)
    lost["aggs"].pop()
    dup = copy.deepcopy(good)
    sink = next(iter(dup["sink_rows"]))
    dup["sink_rows"][sink] += 1
    convs = dict(good, rollups=good["rollups"] - 1)
    for bad in (turn, lost, dup, convs):
        assert not runner.check("perturbed", bad)
    assert (runner.attempted, runner.failed) == (5, 4)


def test_generator_is_seeded():
    a = gen.generate("wide_text", 5, TOY)
    assert a.equals(gen.generate("wide_text", 5, TOY))
    assert not a.equals(gen.generate("wide_text", 6, TOY))
    props = a.column("props").to_pylist()
    assert any(len(p.encode()) > len(p) for p in props)
    assert 1000 <= min(len(p.encode()) for p in props)
