"""The layers the benchmark runs, each a call into the program's public API.

- L0 ``kernel_pass``: the kernel in this process, one core, over the input
  files in Arrow-sized batches.
- L1 ``mp_pass``: the same loop in ``nproc`` spawned processes, no Spark.
- L2 ``identity_job``: Spark scan, Arrow round trip through an identity
  ``mapInPandas``, noop sink.
- L3 ``extract_job``: the full job.
- ``checkpoint_layer``: ``CheckpointedExtraction`` driven one chunk at a
  time, for the per-chunk figures.
"""

from __future__ import annotations

import os
import subprocess
import sys
import shutil
import time
from contextlib import contextmanager
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

import ocr_spark.checkpoint as checkpoint_mod
from ocr_spark.checkpoint import CheckpointedExtraction
from ocr_spark.kernel.extract import extract_batch
from ocr_spark.pipeline import INPUT_COLUMNS, extract_transcripts

# Spark's default spark.sql.execution.arrow.maxRecordsPerBatch, so L0/L1
# hand the kernel the batch shapes the Spark job does
BATCH_ROWS = 10_000


def _batches(path: Path):
    for batch in pq.ParquetFile(path).iter_batches(batch_size=BATCH_ROWS, columns=INPUT_COLUMNS):
        yield batch.to_pandas()


def kernel_pass(files: list[Path], tracer=None, timers=None) -> tuple[float, pd.DataFrame]:
    """L0: wall time and the concatenated kernel output over ``files``.
    With a tracer, each batch gets a ``kernel.extract_batch`` span whose
    ``child_s`` is the time ``timers`` saw in the kernel stages."""
    outs = []
    t0 = time.perf_counter()
    for path in files:
        for pdf in _batches(path):
            if tracer is None:
                outs.append(extract_batch(pdf, with_spans=False))
                continue
            before = sum(timers.seconds.values())
            with tracer.span("kernel.extract_batch", rows=len(pdf)) as span:
                outs.append(extract_batch(pdf, with_spans=False))
                span["child_s"] = sum(timers.seconds.values()) - before
    wall = time.perf_counter() - t0
    return wall, pd.concat(outs, ignore_index=True)


def _kernel_files(paths: list[Path]) -> int:
    return sum(len(extract_batch(pdf, with_spans=False)) for path in paths for pdf in _batches(path))


def _kernel_warm() -> None:
    extract_batch(
        pd.DataFrame(
            {"conv_id": ["w"], "turn_idx": [0], "role": ["user"], "text": ["<p>sodium 5 mg</p>"], "tool": [""]}
        ),
        with_spans=False,
    )


def mp_pass(files: list[Path], n: int) -> tuple[float, int]:
    """L1: wall time and rows of the kernel over ``files`` in ``n`` worker
    processes, each given every n-th file.  The clock starts once all n
    have imported and warmed the kernel."""
    root = Path(__file__).resolve().parent.parent
    env = {**os.environ, "PYTHONPATH": str(root)}
    procs = [
        subprocess.Popen(
            [sys.executable, "-m", "perfbench.layers", *map(str, files[i::n])],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
        )
        for i in range(n)
    ]
    try:
        for p in procs:
            if p.stdout.readline().strip() != "ready":
                raise RuntimeError("L1 worker failed to start")
        t0 = time.perf_counter()
        for p in procs:
            p.stdin.close()  # go
        rows = sum(int(p.stdout.readline()) for p in procs)
        wall = time.perf_counter() - t0
    finally:
        for p in procs:
            if p.poll() is None and not p.stdin.closed:
                p.kill()
            p.wait()
            p.stdout.close()
    return wall, rows


def _identity(batches):
    yield from batches


def identity_job(spark, input_dir: Path) -> None:
    """L2: scan, Arrow round trip through an identity mapInPandas, noop."""
    df = spark.read.parquet(str(input_dir)).select(*INPUT_COLUMNS)
    df.mapInPandas(_identity, df.schema).write.format("noop").mode("overwrite").save()


def extract_job(spark, input_dir: Path, sink: Path | None = None) -> None:
    """L3: scan -> extract_transcripts -> sink (noop when timed, parquet
    when its output is checked)."""
    out = extract_transcripts(spark.read.parquet(str(input_dir)), salt="auto", reassemble="sorted")
    writer = out.write.mode("overwrite")
    if sink is None:
        writer.format("noop").save()
    else:
        writer.parquet(str(sink))


@contextmanager
def traced_extract_calls(tracer):
    """Span every ``extract_transcripts`` call the checkpoint layer makes."""
    inner = checkpoint_mod.extract_transcripts

    def wrapper(*args, **kwargs):
        with tracer.span("pipeline.extract_transcripts"):
            return inner(*args, **kwargs)

    checkpoint_mod.extract_transcripts = wrapper
    try:
        yield
    finally:
        checkpoint_mod.extract_transcripts = inner


def checkpoint_layer(spark, input_dir: Path, out_dir: Path, tracer) -> dict:
    """Run the checkpointed job one chunk per ``run`` call, each call and
    each ``pending_buckets`` / ``validate`` call in its own span."""
    shutil.rmtree(out_dir, ignore_errors=True)
    job = CheckpointedExtraction(spark, spark.read.parquet(str(input_dir)), str(out_dir))
    chunks = 0
    with traced_extract_calls(tracer):
        while True:
            with tracer.span("checkpoint.pending_buckets"):
                pending = job.pending_buckets()
            if not pending:
                break
            with tracer.span("checkpoint.run"):
                chunks += job.run(max_chunks=1)
        with tracer.span("checkpoint.validate"):
            audit = job.validate()
    data = Path(job.data_dir)
    files = list(data.rglob("*.parquet"))
    return {
        "audit": audit,
        "chunks": chunks,
        "data_mb": sum(f.stat().st_size for f in files) / 1e6,
        "files": len(files),
        "data_dir": data,
    }


if __name__ == "__main__":
    # an L1 worker: warm up, report ready, wait for EOF on stdin, then run
    _kernel_warm()
    print("ready", flush=True)
    sys.stdin.read()
    print(_kernel_files([Path(p) for p in sys.argv[1:]]), flush=True)
