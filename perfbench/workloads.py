"""Workload inputs, their cache, the oracle and the per-turn parity check.

Inputs come from ``ocr_spark.synth.generate_local`` at the workload seed and
are split on one observable property, the payload length
(UTF-8 bytes of ``text`` + ``tool``):

- ``short_turns``: turns whose payload is at most 4096 bytes;
- ``long_payloads``: only the turns above 4096 bytes (~30 KB tool outputs).

Each input holds a fixed number of turns: the first ones, in conversation
order, that the workload keeps.  It is generated once per (workload, seed,
size) by this single
process, before any timing, and written as ``2 x nproc`` parquet files of
near-equal size (rows dealt round-robin), so the scan yields one split per
file.  The program under test receives only these files.

The oracle is ``ocr_spark.oracle.oracle_extract`` over the whole input in
one process, cached per input and per hash of the ``ocr_spark/`` sources.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ocr_spark import synth
from ocr_spark.kernel.html import looks_like_html
from ocr_spark.kernel.layout import looks_like_layout
from ocr_spark.oracle import oracle_extract
from ocr_spark.pipeline import INPUT_COLUMNS, OUTPUT_SCHEMA_NO_SPANS

LONG_PAYLOAD_BYTES = 4096
KEY = ["conv_id", "turn_idx"]
OUTPUT_COLUMNS = [f.name for f in OUTPUT_SCHEMA_NO_SPANS.fields]
# the warm-up slice: a constant set of short payloads, independent of the
# workload and its seed, so set-up time never bills workload kernel work
WARMUP_SEED = 0
WARMUP_CONVS = 200


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    turns: int  # a fixed count, so per-job fixed costs weigh the same at every seed
    long: bool  # keep the payloads above LONG_PAYLOAD_BYTES, else those at or below


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "short_turns",
            "payloads <= 4 KB: per-row costs (classification, html/layout "
            "parse, split_blocks, the Arrow/pandas crossing) dominate",
            turns=44_000,
            long=False,
        ),
        Workload(
            "long_payloads",
            "payloads > 4 KB only: per-byte regex work (cleanup, fields, "
            "document gate) dominates and per-row parsing gets no calls",
            turns=640,
            long=True,
        ),
    )
}


def payload_bytes(table: pa.Table) -> pa.Array:
    """UTF-8 byte length of text + tool per row (nulls count as 0)."""
    text = pc.fill_null(pc.binary_length(table["text"]), 0)
    tool = pc.fill_null(pc.binary_length(table["tool"]), 0)
    return pc.add(text, tool)


def _keep(pdf: pd.DataFrame, long: bool) -> pd.DataFrame:
    size = payload_bytes(pa.Table.from_pandas(pdf[["text", "tool"]])).to_numpy()
    mask = size > LONG_PAYLOAD_BYTES if long else size <= LONG_PAYLOAD_BYTES
    return pdf[mask].reset_index(drop=True)


def generate(turns: int, long: bool, seed: int) -> pd.DataFrame:
    """The first ``turns`` kept turns, in conversation order, of the synth
    conversations at ``seed``; rows then shuffled by the seed."""
    n_convs = max(1, turns // 5)
    while True:
        pdf = _keep(synth.generate_local(n_convs, seed=seed, shuffled=False), long)
        if len(pdf) >= turns:
            break
        n_convs *= 2
    return pdf.head(turns).sample(frac=1.0, random_state=seed).reset_index(drop=True)


def _payload_kind(text: str, tool: str, role: str) -> tuple[bool, str]:
    """(is_tool, kind) of one turn; kind classifies the resolved payload
    (a tool turn's ``output`` string) as layout / html / plain."""
    payload = text or ""
    is_tool = role == "tool" and bool(tool)
    if is_tool:
        try:
            doc = json.loads(tool)
            payload = doc.get("output", "") if isinstance(doc, dict) else ""
        except ValueError:
            payload = ""
        payload = payload if isinstance(payload, str) else ""
    if looks_like_layout(payload):
        return is_tool, "layout"
    if looks_like_html(payload):
        return is_tool, "html"
    return is_tool, "plain"


def input_stats(pdf: pd.DataFrame, files: list[Path]) -> dict:
    kinds = {"tool": 0, "html": 0, "layout": 0, "plain": 0}
    for text, tool, role in zip(pdf["text"], pdf["tool"], pdf["role"]):
        is_tool, kind = _payload_kind(text, tool, role)
        kinds["tool"] += is_tool
        kinds[kind] += 1
    size = payload_bytes(pa.Table.from_pandas(pdf[["text", "tool"]]))
    return {
        "turns": len(pdf),
        "conversations": int(pdf["conv_id"].nunique()),
        "payload_mb": pc.sum(size).as_py() / 1e6,
        "file_mb": sum(f.stat().st_size for f in files) / 1e6,
        "files": len(files),
        "kinds": kinds,
    }


def _write_split(pdf: pd.DataFrame, out: Path, n_files: int) -> None:
    """Write ``pdf`` as ``n_files`` parquet files, rows dealt round-robin,
    atomically (a half-written cache entry is never visible)."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for i in range(n_files):
        synth.write_transcripts_parquet(
            pdf.iloc[i::n_files].reset_index(drop=True), str(tmp / f"part-{i:03d}.parquet")
        )
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


@dataclass
class Input:
    dir: Path
    files: list[Path]
    stats: dict

    @property
    def turns(self) -> int:
        return self.stats["turns"]

    def frame(self) -> pd.DataFrame:
        return pq.read_table(self.dir, columns=INPUT_COLUMNS).to_pandas()


def prepare_input(work: Path, wl: Workload, seed: int, n_files: int, scale: float = 1.0) -> Input:
    """The workload's input files for ``seed``, generated on first use."""
    turns = max(n_files, round(wl.turns * scale))
    out = work / "inputs" / f"{wl.name}-seed{seed}-t{turns}-f{n_files}"
    stats_path = out / "_stats.json"  # "_" keeps it out of scans
    if not stats_path.exists():
        pdf = generate(turns, wl.long, seed)
        _write_split(pdf, out, n_files)
        stats_path.write_text(json.dumps(input_stats(pdf, sorted(out.glob("part-*.parquet"))), sort_keys=True))
    return Input(out, sorted(out.glob("part-*.parquet")), json.loads(stats_path.read_text()))


def prepare_warmup(work: Path, n_files: int) -> Path:
    """The constant warm-up slice: short payloads of a fixed seed."""
    out = work / "warmup" / f"c{WARMUP_CONVS}-f{n_files}"
    if not out.exists():
        _write_split(_keep(synth.generate_local(WARMUP_CONVS, seed=WARMUP_SEED), False), out, n_files)
    return out


def source_hash(root: Path) -> str:
    """Hash of the ``ocr_spark/`` sources: the oracle is the kernel, so a
    cached oracle is only valid for the code that produced it."""
    h = hashlib.sha256()
    for path in sorted((root / "ocr_spark").rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def oracle(work: Path, inp: Input, src_hash: str) -> pd.DataFrame:
    """Single-threaded oracle output for ``inp``, cached per source hash."""
    path = work / "oracle" / f"{inp.dir.name}-{src_hash}.parquet"
    if not path.exists():
        out = oracle_extract(inp.frame(), row_at_a_time=False)[OUTPUT_COLUMNS]
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_name(path.name + ".tmp")
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), tmp)
        os.replace(tmp, path)
    return pq.read_table(path).to_pandas()


def read_output(path: Path) -> pd.DataFrame:
    """A job's parquet output (hive partition columns ignored)."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=OUTPUT_COLUMNS
    ).to_pandas()


def count_failed(expected: pd.DataFrame, got: pd.DataFrame) -> int:
    """Turns that are missing from ``got``, duplicated in it, differ from
    ``expected`` in any output column, or are not in ``expected`` at all."""
    dup = got.duplicated(KEY, keep=False)
    # a duplicated key is dropped here, so it counts once: as missing when
    # expected has it, and below when it does not
    m = expected.merge(got[~dup], on=KEY, how="outer", suffixes=("_e", "_g"), indicator=True)
    bad = m["_merge"] != "both"
    for col in OUTPUT_COLUMNS:
        if col in KEY:
            continue
        e, g = m[f"{col}_e"], m[f"{col}_g"]
        bad |= ~((e == g) | (e.isna() & g.isna()))
    stray = got.loc[dup, KEY].drop_duplicates().merge(
        expected[KEY], on=KEY, how="left", indicator=True
    )
    return int(bad.sum()) + int((stray["_merge"] == "left_only").sum())
