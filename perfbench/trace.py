"""Tracing for the traced run: spans, kernel stage timers, event-log reader.

Spans are recorded by the benchmark around its calls into each layer
(``kernel``, ``pipeline``, ``checkpoint``); nothing inside ``ocr_spark`` is
edited.  Kernel stages are timed by swapping the names that
``ocr_spark.kernel.extract`` binds for timing wrappers, and restoring them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

import ocr_spark.kernel.bilingual as bilingual_mod
import ocr_spark.kernel.extract as extract_mod

LAYERS = ("kernel", "pipeline", "checkpoint")


class Tracer:
    """In-memory spans: name, start, end, parent and run id; written out
    with ``write`` when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def span_table(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total time and self time.  Self time is a
        span's duration minus its child spans and minus ``child_s``, the
        time of children timed by counters instead of spans.  Spans of one
        thread nest, so child intervals never overlap."""
        child = [s.get("child_s", 0.0) for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        table: dict[str, dict[str, float]] = {}
        for s, c in zip(self.spans, child):
            row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += s["end"] - s["start"] - c
        return table

    def layer_self_s(self) -> dict[str, float]:
        """Self time per layer: the summed self time of its spans."""
        out = dict.fromkeys(LAYERS, 0.0)
        for name, row in self.span_table().items():
            layer = name.split(".", 1)[0]
            if layer in out:
                out[layer] += row["self_s"]
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


# stage -> the names extract.py calls for it (classification is folded
# into the html/layout stages: it runs on every payload, the parse only
# on the payloads it matched)
_STAGES = {
    "html_extract": (extract_mod, ("looks_like_html", "html_extract")),
    "layout_extract": (extract_mod, ("looks_like_layout", "layout_extract")),
    "split_blocks": (bilingual_mod, ("split_blocks",)),
    "cleanup_series": (extract_mod, ("cleanup_series",)),
    "extract_fields_series": (extract_mod, ("extract_fields_series",)),
}
STAGES = tuple(_STAGES)


class StageTimers:
    """Wall time and call counts per kernel stage while installed."""

    def __init__(self):
        self.seconds = dict.fromkeys(STAGES, 0.0)
        self.calls: dict[str, int] = {}
        self.split_hits = 0

    def _wrap(self, stage: str, name: str, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.seconds[stage] += time.perf_counter() - t0
            self.calls[name] = self.calls.get(name, 0) + 1
            if name == "split_blocks" and len(out) > len(args[0]):
                self.split_hits += 1
            return out

        return timed

    @contextmanager
    def installed(self):
        saved = []
        try:
            for stage, (mod, names) in _STAGES.items():
                for name in names:
                    fn = getattr(mod, name)
                    saved.append((mod, name, fn))
                    setattr(mod, name, self._wrap(stage, name, fn))
            yield self
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)


def read_event_log(log_dir: Path) -> list[dict]:
    """All events of the one application logged under ``log_dir``."""
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    with open(logs[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def group_metrics(events: list[dict], group: str) -> dict:
    """Task, plan and scan figures of the Spark jobs run under job group
    ``group``: task durations and shuffle bytes, ``Exchange`` nodes in the
    final (adaptive) plans, and file bytes the scans read."""
    stages: set[int] = set()
    executions: set[int] = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.jobGroup.id") == group:
                stages.update(e["Stage IDs"])
                if "spark.sql.execution.id" in props:
                    executions.add(int(props["spark.sql.execution.id"]))
    plans: dict[int, dict] = {}
    scan_ids: set[int] = set()
    scanned: dict[int, int] = {}
    tasks = []
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            if e["executionId"] in executions:
                plans[e["executionId"]] = e["sparkPlanInfo"]  # the last one is final
                for node in _plan_nodes(e["sparkPlanInfo"]):
                    scan_ids.update(
                        m["accumulatorId"]
                        for m in node.get("metrics", ())
                        if m["name"] == "size of files read"
                    )
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            scanned.update((i, v) for i, v in e["accumUpdates"] if i in scan_ids)
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            tasks.append(
                {
                    "s": (info["Finish Time"] - info["Launch Time"]) / 1000,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                }
            )
    exchanges = sum(
        1 for p in plans.values() for n in _plan_nodes(p) if n["nodeName"].endswith("Exchange")
    )
    return {"tasks": tasks, "exchanges": exchanges, "scan_bytes": sum(scanned.values())}
