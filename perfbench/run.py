#!/usr/bin/env python3
"""Layered benchmark of the transcript-extraction job.

Run from the root of a checkout:

    python3 perfbench/run.py --workload short_turns --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
is the separate traced run that measures every layer and writes its spans
and layer table under ``perfbench/.work/trace/``.  Every metric is printed
by name with its unit; the last line of standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--workload all`` runs every workload, untraced and traced, one after the
other, each in a process of its own.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("short_turns", "long_payloads")


def run_workload(name: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    """One run; returns the result object and prints the metric table."""
    from perfbench import measure

    run = measure.prepare(name, seed, seconds, scale)
    stats = run.inp.stats
    print(
        f"# {name} seed={seed} nproc={measure.NPROC} turns={stats['turns']} "
        f"conversations={stats['conversations']} payload_mb={stats['payload_mb']:.2f} "
        f"file_mb={stats['file_mb']:.2f} files={stats['files']} kinds={json.dumps(stats['kinds'])}"
    )
    if trace:
        values, tracer = measure.traced(run)
        units = measure.PER_LAYER
        out = measure.WORK / "trace" / f"{name}-seed{seed}"
        tracer.write(out.with_suffix(".spans.jsonl"))
        table = {"spans": tracer.span_table(), "layer_self_s": tracer.layer_self_s()}
        out.with_suffix(".layers.json").write_text(json.dumps(table, indent=1, sort_keys=True))
        for span, row in sorted(table["spans"].items()):
            print(f"span {span:34s} n={row['count']:<4d} total_s={row['total_s']:.4f} self_s={row['self_s']:.4f}")
        print(f"# spans: {out.with_suffix('.spans.jsonl')}  layer table: {out.with_suffix('.layers.json')}")
    else:
        values = measure.untraced(run)
        units = measure.END_TO_END
    tally = run.tally
    print(f"{'failed_share':34s} {tally.failed / max(tally.attempted, 1):>14.6g} ratio")
    for metric, unit in units.items():
        print(f"{metric:34s} {values[metric]:>14.6g} {unit}")
    return {
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {m: {"value": values[m], "unit": u} for m, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    if not (ROOT / "ocr_spark" / "pipeline.py").is_file():
        print(f"perfbench: no ocr_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        code = 0
        for name in WORKLOAD_NAMES:
            for trace in (0, 1):
                cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(trace)]
                code = code or subprocess.run(cmd, check=False).returncode
        return code
    sys.path.insert(0, str(ROOT))
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
