"""Self-tests of the benchmark (not of the engine).

Run from the repository root: ``python3 -m pytest perfbench -q``. The input
and BENCHMARK.json tests take a second; the smoke runs start one Spark
session per workload on tiny inputs (about half a minute each).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs as gen  # noqa: E402
from perfbench.run import NAMES  # noqa: E402
from perfbench.tracing import UNITS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_declares_what_the_harness_prints():
    b = bench_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in b["workloads"]} <= set(NAMES) == set(WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == UNITS
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"] + b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])


@pytest.mark.parametrize("workload", NAMES)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        out = tmp_path / str(i)
        gen.generate(workload, str(out), seed, gen.SMOKE)
        digests.append(gen.digest(str(out)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def _run(*args: str) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def _check_result(res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def test_smoke_timed_run_prints_every_end_to_end_metric():
    code, res, err = _run("--workload", "kmeans", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--smoke")
    assert code == 0, err[-3000:]
    _check_result(res, bench_json()["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


# the layer each workload exists to exercise must show work in its trace
_LAYER_SIGNAL = {
    "kmeans": "algos.kmeans.iter_s",
    "damds": "algos.damds.v_multiply_calls",
    "gemm": "linalg.blocks_to_numpy_s",
    "corpus_shards": "streaming.batches",
}


@pytest.mark.parametrize("workload", NAMES)
def test_smoke_traced_run_prints_every_per_layer_metric(workload):
    code, res, err = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                          "--trace", "1", "--smoke")
    assert code == 0, err[-3000:]
    _check_result(res, bench_json()["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m[_LAYER_SIGNAL[workload]] > 0
    assert m["spark.jobs"] > 0
    assert abs(m["trace.residual_s"]) < 1e-3  # epoch-second float rounding


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout of the engine the harness exits non-zero, no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".traces", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "gemm", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
