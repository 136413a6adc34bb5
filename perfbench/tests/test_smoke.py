"""Smoke test of the benchmark at a tiny input size.

Run from the root of a checkout:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import measure  # noqa: E402
from perfbench.run import WORKLOAD_NAMES, run_workload  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_spec_matches_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOAD_NAMES) == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == measure.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == measure.PER_LAYER


def _check(result: dict, units: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {m: v["unit"] for m, v in result["metrics"].items()} == units
    for m, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), m
    json.loads(json.dumps(result))  # one JSON object, as printed


def test_untraced_short_turns():
    result = run_workload("short_turns", seed=3, seconds=0.5, trace=False, scale=0.02)
    _check(result, measure.END_TO_END)
    assert result["metrics"]["turns_per_s"]["value"] > 0
    assert result["metrics"]["correct_share"]["value"] == 1.0


def test_traced_long_payloads():
    result = run_workload("long_payloads", seed=3, seconds=0.5, trace=True, scale=0.05)
    _check(result, measure.PER_LAYER)
    metrics = result["metrics"]
    assert metrics["kernel.html_rows"]["value"] == 0  # long payloads are plain text
    assert metrics["checkpoint.chunks"]["value"] == 4
    assert metrics["checkpoint.read_amplification"]["value"] > 1
    spans = measure.WORK / "trace" / "long_payloads-seed3.spans.jsonl"
    names = {json.loads(line)["name"] for line in spans.read_text().splitlines()}
    assert {"kernel.extract_batch", "checkpoint.run", "checkpoint.validate"} <= names


def test_fails_without_the_program(tmp_path):
    """In a directory with only the benchmark's own files, the benchmark
    exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(
        ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__")
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "short_turns", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("bad", [["--seconds", "0"], ["--trace", "2"], ["--workload", "nope"]])
def test_rejects_bad_arguments(bad):
    args = {"--workload": "short_turns", "--seed": "1", "--seconds": "1", "--trace": "0"}
    args.update(dict(zip(bad[::2], bad[1::2])))
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py")] + [x for kv in args.items() for x in kv]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and '"correct"' not in proc.stdout
