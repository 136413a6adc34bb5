"""The two runs of a workload: untraced (end-to-end metrics) and traced
(per-layer metrics).

The job is a closed loop: one client submits one job at a time and the next
only after the previous one ends.  Both runs build their sessions in one
JVM; ``SESSIONS`` gives the untraced run's order.  Every figure is a median
over repetitions.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import pandas as pd

from perfbench import layers, session
from perfbench.trace import STAGES, StageTimers, Tracer, group_metrics, read_event_log
from perfbench.workloads import (
    WORKLOADS,
    Input,
    Workload,
    count_failed,
    oracle,
    prepare_input,
    prepare_warmup,
    read_output,
    source_hash,
)

ROOT = Path(__file__).resolve().parent.parent
WORK = Path(__file__).resolve().parent / ".work"
NPROC = session.NPROC

END_TO_END = {
    "turns_per_s": "turns/s",
    "scaling_eff": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "correct_share": "ratio",
}
PER_LAYER = {
    "kernel.turns_per_s": "turns/s",
    **{f"kernel.{stage}_s": "s" for stage in STAGES},
    "kernel.extract_self_s": "s",
    "kernel.html_rows": "count",
    "kernel.layout_rows": "count",
    "kernel.split_blocks_rows": "count",
    "kernel.status_ok": "count",
    "kernel.status_empty": "count",
    "kernel.status_rejected": "count",
    "kernel.status_tool_parse_error": "count",
    "kernel.split_blocks_hit_ratio": "ratio",
    "kernel.mp_turns_per_s": "turns/s",
    "kernel.mp_eff": "ratio",
    "pipeline.identity_s": "s",
    "pipeline.overhead_s": "s",
    "pipeline.exchanges": "count",
    "pipeline.tasks": "count",
    "pipeline.task_s_p50": "s",
    "pipeline.task_s_max": "s",
    "pipeline.task_busy_share": "ratio",
    "pipeline.read_mb": "MB",
    "pipeline.shuffle_write_mb": "MB",
    "checkpoint.run_s": "s",
    "checkpoint.chunk_s_max": "s",
    "checkpoint.pending_buckets_s": "s",
    "checkpoint.validate_s": "s",
    "checkpoint.chunks": "count",
    "checkpoint.data_mb": "MB",
    "checkpoint.files": "count",
    "checkpoint.read_amplification": "ratio",
    "layer.kernel_self_s": "s",
    "layer.pipeline_self_s": "s",
    "layer.checkpoint_self_s": "s",
    "trace.kernel_tps_ratio": "ratio",
    "trace.job_tps_ratio": "ratio",
}

# (level, share of --seconds, timed) per session of the untraced run.  The
# first session, in a cold JVM, checks the output and then repeats the job
# untimed: jobs keep getting faster for several repetitions after launch
# (the JIT compiles the scan and Arrow paths).  The timed sessions are
# symmetric around local[1], so a steady drift of the machine's speed
# cancels out of scaling_eff.
SESSIONS = ((NPROC, 0.2, False), (NPROC, 0.2, True), (1, 0.4, True), (NPROC, 0.2, True))
MIN_REPS = 1
L2_REPS = 2
L3_REPS = 2


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Tally:
    """Turns checked against the oracle, and those that failed.  A job that
    raises fails every turn it was given."""

    def __init__(self, expected: pd.DataFrame):
        self.expected = expected
        self.attempted = 0
        self.failed = 0

    def check(self, got: pd.DataFrame) -> None:
        self.attempted += len(self.expected)
        self.failed += count_failed(self.expected, got)

    def fail_all(self) -> None:
        self.attempted += len(self.expected)
        self.failed += len(self.expected)

    def lost(self, what: str) -> None:
        traceback.print_exc(file=sys.stderr)
        print(f"perfbench: {what} failed; its turns count as failed", file=sys.stderr)
        self.fail_all()


@dataclass
class Run:
    wl: Workload
    seed: int
    seconds: float
    inp: Input
    warmup: Path
    tally: Tally

    @property
    def out_dir(self) -> Path:
        return WORK / "out" / self.wl.name

    def job(self, spark) -> None:
        """The timed job: the extract job with a noop sink."""
        layers.extract_job(spark, self.inp.dir)

    def checked_job(self, spark) -> None:
        """The job once, untimed, with its output written and compared."""
        layers.extract_job(spark, self.inp.dir, sink=self.out_dir)
        self.tally.check(read_output(self.out_dir))


def prepare(name: str, seed: int, seconds: float, scale: float = 1.0) -> Run:
    wl = WORKLOADS[name]
    inp = prepare_input(WORK, wl, seed, 2 * NPROC, scale)
    expected = oracle(WORK, inp, source_hash(ROOT))
    return Run(wl, seed, seconds, inp, prepare_warmup(WORK, 2 * NPROC), Tally(expected))


def _start(level: int, run: Run, event_log: Path | None = None):
    """A session at ``level`` and its set-up time: session build (with the
    JVM launch, for the run's first session) and warm-up job."""
    t0 = time.perf_counter()
    spark = session.start(ROOT, WORK, level, event_log)
    try:
        # the extract job on the constant warm-up slice: starts a Python
        # worker per core and imports the kernel in each
        layers.extract_job(spark, run.warmup)
        n_splits = spark.read.parquet(str(run.inp.dir)).rdd.getNumPartitions()
    except BaseException:
        spark.stop()
        raise
    if n_splits < 2 * NPROC:
        spark.stop()
        raise RuntimeError(f"input scans as {n_splits} splits, want >= {2 * NPROC}")
    return spark, time.perf_counter() - t0


def untraced(run: Run) -> dict[str, float]:
    times: dict[int, list[float]] = {NPROC: [], 1: []}
    setups: list[float] = []
    peaks: list[float] = []
    try:
        for level, share, timed in SESSIONS:
            _untraced_session(run, level, share, timed, times, setups, peaks)
    finally:
        session.shutdown()
    shutil.rmtree(run.out_dir, ignore_errors=True)
    t_n, t_1 = _median(times[NPROC]), _median(times[1])
    return {
        "turns_per_s": run.inp.turns / t_n if t_n else 0.0,
        "scaling_eff": t_1 / (NPROC * t_n) if t_n else 0.0,
        "setup_s": _median(setups),
        "peak_rss_mb": _median(peaks),
        "correct_share": 1 - run.tally.failed / run.tally.attempted if run.tally.attempted else 0.0,
    }


def _untraced_session(run, level, share, timed, times, setups, peaks) -> None:
    """One session: set up, check the output if untimed, then repeat the
    job until the session's share of ``--seconds`` is spent."""
    spark, setup_s = _start(level, run)
    setups.append(setup_s)
    walls: list[float] = []
    try:
        if not timed:
            run.checked_job(spark)
        deadline = time.perf_counter() + share * run.seconds
        reps = 0
        while reps < MIN_REPS or time.perf_counter() < deadline:
            reps += 1
            with session.PeakRss() as rss:
                wall = session.timed(run.job, spark)
            walls.append(wall)
            if timed and level == NPROC:
                peaks.append(rss.peak_mb)
    except Exception:
        run.tally.lost(f"job at local[{level}]")
    finally:
        spark.stop()
    if timed:
        times[level].extend(walls)
    print(
        f"perfbench: local[{level}] {'timed' if timed else 'warm'} setup {setup_s:.3f}s jobs "
        + " ".join(f"{t:.3f}" for t in walls),
        file=sys.stderr,
    )


def _kernel_metrics(run: Run, tracer: Tracer) -> tuple[dict[str, float], float]:
    """L0 untraced and traced, then L1; returns metrics and the L1 wall."""
    layers.kernel_pass(sorted(run.warmup.glob("*.parquet")))  # imports, regex caches
    wall0, out0 = layers.kernel_pass(run.inp.files)
    run.tally.check(out0)
    timers = StageTimers()
    with timers.installed(), tracer.span("run.l0"):
        wall0t, out0t = layers.kernel_pass(run.inp.files, tracer, timers)
    run.tally.check(out0t)
    with tracer.span("run.l1"):
        wall1, rows1 = layers.mp_pass(run.inp.files, NPROC)
    if rows1 != run.inp.turns:
        raise RuntimeError(f"L1 returned {rows1} rows for {run.inp.turns} turns")
    status = out0["status"].value_counts()
    attempts = timers.calls.get("split_blocks", 0)
    tps0 = run.inp.turns / wall0
    m = {
        "kernel.turns_per_s": tps0,
        **{f"kernel.{stage}_s": timers.seconds[stage] for stage in STAGES},
        "kernel.extract_self_s": tracer.span_table()["kernel.extract_batch"]["self_s"],
        "kernel.html_rows": timers.calls.get("html_extract", 0),
        "kernel.layout_rows": timers.calls.get("layout_extract", 0),
        "kernel.split_blocks_rows": attempts,
        **{f"kernel.status_{s}": int(status.get(s, 0)) for s in ("ok", "empty", "rejected", "tool_parse_error")},
        "kernel.split_blocks_hit_ratio": timers.split_hits / attempts if attempts else 0.0,
        "kernel.mp_turns_per_s": rows1 / wall1,
        "kernel.mp_eff": rows1 / wall1 / (NPROC * tps0),
        "trace.kernel_tps_ratio": wall0 / wall0t,
    }
    return m, wall1


def traced(run: Run) -> tuple[dict[str, float], Tracer]:
    run_id = f"{run.wl.name}-seed{run.seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    m, wall1 = _kernel_metrics(run, tracer)

    log_dir = WORK / "eventlog" / run_id
    shutil.rmtree(log_dir, ignore_errors=True)
    try:
        # session A, no event log: L2 and the untraced L3
        with tracer.span("run.setup"):
            spark, _ = _start(NPROC, run)
        try:
            l2 = [session.timed(layers.identity_job, spark, run.inp.dir) for _ in range(L2_REPS)]
            l3 = [session.timed(run.job, spark) for _ in range(L3_REPS)]
        finally:
            spark.stop()
        # session B, event log on: the traced L3 and the checkpoint layer
        with tracer.span("run.setup"):
            spark, _ = _start(NPROC, run, event_log=log_dir)
        try:
            sc = spark.sparkContext
            sc.setJobGroup("l3", "timed job, traced")
            with tracer.span("pipeline.extract_job") as span:
                run.job(spark)
            l3_traced = span["end"] - span["start"]
            sc.setJobGroup("checkpoint", "checkpoint layer, one chunk per run()")
            with tracer.span("run.checkpoint_layer"):
                ck = layers.checkpoint_layer(spark, run.inp.dir, run.out_dir, tracer)
            if ck["audit"]["complete"]:
                run.tally.check(read_output(ck["data_dir"]))
            else:
                run.tally.fail_all()
        finally:
            spark.stop()
    finally:
        session.shutdown()
    events = read_event_log(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    shutil.rmtree(run.out_dir, ignore_errors=True)

    job = group_metrics(events, "l3")
    task_s = [t["s"] for t in job["tasks"]]
    ck_read = group_metrics(events, "checkpoint")["scan_bytes"]
    runs = tracer.durations("checkpoint.run")
    layer_self = tracer.layer_self_s()
    m.update(
        {
            "pipeline.identity_s": _median(l2),
            "pipeline.overhead_s": _median(l3) - wall1,
            "pipeline.exchanges": job["exchanges"],
            "pipeline.tasks": len(task_s),
            "pipeline.task_s_p50": _median(task_s),
            "pipeline.task_s_max": max(task_s, default=0.0),
            "pipeline.task_busy_share": sum(task_s) / (NPROC * l3_traced),
            "pipeline.read_mb": job["scan_bytes"] / 1e6,
            "pipeline.shuffle_write_mb": sum(t["shuffle_write"] for t in job["tasks"]) / 1e6,
            "checkpoint.run_s": sum(runs),
            "checkpoint.chunk_s_max": max(runs, default=0.0),
            "checkpoint.pending_buckets_s": sum(tracer.durations("checkpoint.pending_buckets")),
            "checkpoint.validate_s": sum(tracer.durations("checkpoint.validate")),
            "checkpoint.chunks": ck["chunks"],
            "checkpoint.data_mb": ck["data_mb"],
            "checkpoint.files": ck["files"],
            "checkpoint.read_amplification": ck_read / 1e6 / run.inp.stats["file_mb"],
            **{f"layer.{k}_self_s": v for k, v in layer_self.items()},
            "trace.job_tps_ratio": _median(l3) / l3_traced,
        }
    )
    return m, tracer
