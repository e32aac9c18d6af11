"""Smoke test of the benchmark at its tiny size (a few minutes).

    python3 -m pytest perfbench/check_smoke.py -q

Every workload, untraced and traced, must print every metric
BENCHMARK.json names, with its unit, and pass its own checks; a
perturbed pipeline fingerprint must drive fail_rate above 0, and a run
whose measured operations fail must still print its result. The file
name keeps it out of a plain `pytest` collection of the repository.
"""

from __future__ import annotations

import copy
import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def run_bench(*args: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "3", "--seconds", "1",
         "--size", "tiny", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_printed_with_its_unit(workload, trace):
    result, detail = run_bench("--workload", workload, "--trace", str(trace))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])
        if not trace:
            assert got["value"] > 0, m["name"]
    if not trace:
        named = detail["named_metrics"]
        assert named["fail_rate"] == {"value": 0.0, "unit": "ratio"}
        assert all("unit" in v for v in named.values())


@pytest.fixture(scope="module")
def recorded(tmp_path_factory) -> dict:
    """The pipeline fingerprints a correct run records for the seed."""
    path = tmp_path_factory.mktemp("recorded") / "fingerprints.json"
    result, _ = run_bench("--workload", "pipeline", "--fingerprints", str(path),
                          "--record-fingerprint")
    assert result["correct"]
    return json.loads(path.read_text())


def run_pinned(tmp_path, pinned: dict) -> tuple[dict, dict]:
    path = tmp_path / "fingerprints.json"
    path.write_text(json.dumps(pinned))
    return run_bench("--workload", "pipeline", "--fingerprints", str(path))


def test_perturbed_fingerprint_counts_as_failure(recorded, tmp_path):
    pinned = copy.deepcopy(recorded)
    (fp,) = pinned.values()
    fp["curated_rows"]["fact_patient_encounters"] += 1
    result, detail = run_pinned(tmp_path, pinned)
    assert not result["correct"] and result["failed"] > 0
    assert detail["named_metrics"]["fail_rate"]["value"] > 0
    assert any("recorded" in f for f in detail["failures"])


def test_failed_measured_iterations_still_give_a_result(recorded, tmp_path):
    # perturbed gates fail the reports stage of the warm-up and of every
    # measured iteration, so no round passes whole
    pinned = copy.deepcopy(recorded)
    (fp,) = pinned.values()
    fp["gates"] = dict.fromkeys(fp["gates"], "perturbed")
    result, detail = run_pinned(tmp_path, pinned)
    assert not result["correct"] and result["failed"] >= 2
    assert "round_cpu_s" not in result["metrics"]
    assert result["metrics"]["setup_s"]["unit"] == "s"
    assert detail["named_metrics"]["fail_rate"]["value"] > 0
    assert any(f.startswith("gates") for f in detail["failures"])
