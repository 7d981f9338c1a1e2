"""Tests of the benchmark itself: generator determinism, metric names and
units against BENCHMARK.json, the refusal outside a checkout, and a
tiny-size run of each workload that must finish with no failed call.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    CONF = json.load(_fh)


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    gen.generate(workload, 7, str(tmp_path / "a"), smoke=True)
    gen.generate(workload, 7, str(tmp_path / "b"), smoke=True)
    gen.generate(workload, 8, str(tmp_path / "c"), smoke=True)
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a == b
    assert a["t1.parquet"] != c["t1.parquet"]


def test_ground_truth_breaks_ties_by_id():
    vecs = np.array([[1, 0], [0, 1], [1, 0], [5, 5]], np.float32)
    ids = np.array([9, 4, 2, 7])
    got, d = gen.exact_topk(vecs, ids, np.zeros(2, np.float32), k=3)
    assert got.tolist() == [2, 4, 9] and d.tolist() == [1.0, 1.0, 1.0]


def test_ground_truth_matches_the_model(tmp_path):
    """The stored truth equals a brute force over the live base rows."""
    import pyarrow.parquet as pq

    gen.generate("serve_warm", 3, str(tmp_path), smoke=True)
    truth = np.load(tmp_path / "truth.npz")
    plan = json.loads((tmp_path / "plan.json").read_text())
    model = run.Model()
    model.put(pq.read_table(tmp_path / "t1.parquet"))
    model.drop(plan["base_deletes"])
    q = pq.read_table(tmp_path / "t2.parquet").to_pydict()["qvector"]
    for flt in gen.FILTERS:
        for qi in range(len(q)):
            ids, _ = model.topk(q[qi], flt)
            assert ids.tolist() == truth[f"{flt}/{qi}/ids"].tolist()


def test_metric_names_and_units_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in CONF["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in CONF["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layers == run.LAYER_UNITS
    assert [w["name"] for w in CONF["workloads"]] == list(run.WORKLOADS)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, *CONF["command"][1:], "--workload", "serve_warm",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _smoke(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_has_no_failed_call(workload):
    res = _smoke(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["failed"] == 0 and res["correct"] and res["attempted"] > 0
    assert {n: v["unit"] for n, v in res["metrics"].items()} == run.E2E_UNITS
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_smoke_run_prints_every_layer():
    res = _smoke("ingest_churn", 1)
    assert res["failed"] == 0
    assert {n: v["unit"] for n, v in res["metrics"].items()} == run.LAYER_UNITS
