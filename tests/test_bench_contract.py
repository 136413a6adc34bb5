"""Printed-line budget for bench.py (round-4 postmortem).

The driver captures only the LAST 2000 chars of bench output; round 4's
full-detail JSON line exceeded that and BENCH_r04.json recorded
``parsed: null`` — the most load-bearing artifact of the round was
unreadable.  This test pins the fix: the compact projection of a
FULLY-POPULATED result (every optional block present, both perfbench
workloads with every metric) must stay under 1800 chars, leaving ≥200
chars of slack inside the capture window.
"""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench


def _perfbench_runs(tps: float) -> dict:
    """A workload's parsed untraced + traced perfbench results, every
    metric BENCHMARK.json declares populated."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        decl = json.load(f)
    e2e = {m["name"]: 0.789 for m in decl["end_to_end"]}
    layers = {m["name"]: 12345.678 for m in decl["per_layer"]}
    e2e["turns_per_s"] = tps
    layers["kernel.mp_eff"] = 0.931
    return {
        "untraced": {"attempted": 88000, "failed": 0, "metrics": e2e},
        "traced": {"attempted": 176000, "failed": 0, "metrics": layers},
    }


def _full_result() -> dict:
    queries = {q: 12.34 for q in bench.HEADLINE}
    return {
        "metric": "headline ops wall-clock at sf + perfbench extraction metrics",
        "value": round(sum(queries.values()), 2),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "ann_recall": {
            "k": 5,
            "n_queries": 64,
            "sf_dir": "/root/testdata/sf0.1",
            "lsh_radius0": 0.238,
            "lsh_radius1": 0.697,
            "lsh_radius2": 1.0,
            "ivf_nprobe1": 0.55,
            "ivf_nprobe2": 0.81,
            "ivf_nprobe4": 1.0,
            "ivf_kmeans_nprobe1": 0.58,
            "ivf_kmeans_nprobe2": 0.84,
            "ivf_kmeans_nprobe4": 1.0,
            "dedup_emb_pairs_exact": 123,
            "dedup_emb_pair_recall": 0.934,
            "dedup_minhash_pairs_exact": 456,
            "dedup_minhash_pair_recall": 0.987,
        },
        "lsh_guard": {
            "cap": 200,
            "minhash_bands": {
                "n_buckets": 2033,
                "max_bucket": 26,
                "n_dropped_buckets": 3,
                "n_dropped_rows": 712,
            },
            "embedding_bands": {
                "n_buckets": 1024,
                "max_bucket": 31,
                "n_dropped_buckets": 0,
                "n_dropped_rows": 0,
            },
            "ann_tables": {
                "n_buckets": 2048,
                "max_bucket": 19,
                "n_dropped_buckets": 0,
                "n_dropped_rows": 0,
            },
        },
        "extraction": {
            "short_turns": _perfbench_runs(82512.7),
            "long_payloads": _perfbench_runs(1155.2),
        },
    }


def test_compact_line_fits_driver_capture():
    line = json.dumps(bench._compact_result(_full_result()))
    assert len(line) < 1800, f"printed line {len(line)} chars; driver keeps 2000"


def test_compact_keeps_driver_contract_keys():
    out = bench._compact_result(_full_result())
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in out
    assert set(out["queries"]) == set(bench.HEADLINE)
    # both workloads' scaling and layer figures survive
    for name in ("short_turns", "long_payloads"):
        ex = out["extraction"][name]
        assert ex["eff"] == 0.789 and ex["norm_eff"] == round(0.789 / 0.931, 3)
        assert ex["l0_tps"] == ex["l1_tps"] == 12345
        assert ex["l2_identity_s"] == ex["l2_overhead_s"] == 12345
    # guard collapses to one audit scalar (nonzero drop stays visible)
    assert out["lsh_guard"] == {"dropped_rows": 712}


def test_compact_error_paths_still_fit():
    r = _full_result()
    long = {"error": "rc=1: Traceback " + "java.lang.OutOfMemoryError " * 20}
    r["extraction"] = {
        name: {"untraced": long, "traced": long} for name in r["extraction"]
    }
    r["ann_recall"] = {"error": "boom " * 100}
    r["lsh_guard"] = {"error": "boom " * 100}
    line = json.dumps(bench._compact_result(r))
    assert len(line) < 1800
