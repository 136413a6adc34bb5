"""Unit tests for bench.py's helpers (no Spark): the perfbench result
parser, the compact extraction block, the history append and the driver
memory sizing."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench
from test_bench_contract import _full_result


def _metrics(**values):
    return {k: {"value": v, "unit": "x"} for k, v in values.items()}


# last stdout lines in the shape of perfbench/run.py:run_workload
UNTRACED = {
    "correct": True,
    "attempted": 88000,
    "failed": 0,
    "metrics": _metrics(
        turns_per_s=82512.7, scaling_eff=0.787, setup_s=1.197,
        peak_rss_mb=3148.2, correct_share=1.0,
    ),
}
TRACED = {
    "correct": True,
    "attempted": 176000,
    "failed": 0,
    "metrics": _metrics(**{
        "kernel.turns_per_s": 32000.4,
        "kernel.cleanup_series_s": 0.19,
        "kernel.mp_turns_per_s": 118000.9,
        "kernel.mp_eff": 0.93,
        "pipeline.identity_s": 0.234,
        "pipeline.overhead_s": 0.28,
        "pipeline.exchanges": 0,
    }),
}


def _run(code: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=60
    )


def _printed(obj) -> subprocess.CompletedProcess:
    return _run(f"print('# metric table'); print({json.dumps(json.dumps(obj))})")


def test_perfbench_line_projects_to_compact_block():
    runs = {
        "untraced": bench._parse_perfbench(_printed(UNTRACED)),
        "traced": bench._parse_perfbench(_printed(TRACED)),
    }
    assert runs["traced"]["metrics"]["kernel.mp_eff"] == 0.93
    block = bench._compact_workload(runs)
    assert block == {
        "tps": 82512,
        "eff": 0.787,
        "correct": 1.0,
        "l0_tps": 32000,
        "l1_tps": 118000,
        "l2_identity_s": 0.234,
        "l2_overhead_s": 0.28,
        "norm_eff": round(0.787 / 0.93, 3),
    }
    assert block["norm_eff"] == pytest.approx(0.787 / 0.93, abs=5e-4)


def test_failed_or_unparsable_run_becomes_error_entry():
    crashed = bench._parse_perfbench(_run("import sys; print('starting'); sys.exit(3)"))
    garbled = bench._parse_perfbench(_run("print('{\"metrics\": {'); print('not json')"))
    wrong_shape = bench._parse_perfbench(_run("print('[1, 2]')"))
    assert crashed["error"].startswith("rc=3")
    assert garbled["error"].startswith("unparsable result")
    assert "error" in wrong_shape
    ok = bench._parse_perfbench(_printed(UNTRACED))

    r = _full_result()
    r["extraction"] = {
        "short_turns": {"untraced": crashed, "traced": ok},
        "long_payloads": {"untraced": ok, "traced": garbled},
    }
    out = bench._compact_result(r)
    assert out["extraction"]["short_turns"]["error"].startswith("untraced: rc=3")
    assert out["extraction"]["long_payloads"]["error"].startswith("traced: unparsable")
    assert len(json.dumps(out)) < 1800


def test_history_append_keeps_earlier_lines(tmp_path):
    path = tmp_path / "bench_history.jsonl"
    first, second = _full_result(), _full_result()
    second["value"] = 1.5
    bench._append_history(first, str(path))
    before = path.read_bytes()
    bench._append_history(second, str(path))
    lines = path.read_bytes().splitlines(keepends=True)
    assert len(lines) == 2
    assert lines[0] == before
    assert json.loads(lines[1])["value"] == 1.5


def test_driver_memory_sized_from_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree:         1000 kB\n")
    assert bench._driver_memory(str(meminfo)) == "7680m"
    meminfo.write_text("MemTotal:       134217728 kB\n")
    assert bench._driver_memory(str(meminfo)) == "16384m"
