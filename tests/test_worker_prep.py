"""The once-per-worker prep that ``_extract_map`` runs: zip importers
re-read an archive only when its stat key changed, and the import heap is
frozen out of the per-task ``gc.collect()``.  Each test runs the prep in
this process and puts it back afterwards."""

from __future__ import annotations

import gc
import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from ocr_spark import pipeline


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _run_map_once():
    pdf = pd.DataFrame(
        {"conv_id": ["c0"], "turn_idx": [0], "role": ["user"], "text": ["Vitamin C 60 mg"], "tool": [None]}
    )
    out = list(pipeline._extract_map(iter([pdf])))
    assert len(out) == 1 and len(out[0]) == 1


@pytest.fixture
def prepped_zip(tmp_path, monkeypatch):
    """A zip importer on sys.path holding ``_zipprep_a``, a fresh prep
    state, and a counter of directory reads of that archive."""
    archive = tmp_path / "prep.zip"
    _write_zip(archive, ["_zipprep_a"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pipeline, "_worker_ready", False, raising=False)
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.import_module("_zipprep_a")
    try:
        yield archive, reads
    finally:
        gc.unfreeze()
        for name in ("_zipprep_a", "_zipprep_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_unchanged_zip_is_not_reread(prepped_zip):
    _, reads = prepped_zip
    _run_map_once()
    importlib.invalidate_caches()  # the importer's first re-read takes its key
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread_once_and_imports(prepped_zip):
    archive, reads = prepped_zip
    _run_map_once()
    importlib.invalidate_caches()
    _write_zip(archive, ["_zipprep_a", "_zipprep_b"])
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("_zipprep_b").NAME == "_zipprep_b"
    importlib.invalidate_caches()
    assert len(reads) == 1  # the new key was recorded


def test_map_freezes_the_worker_heap(prepped_zip):
    _run_map_once()
    assert gc.get_freeze_count() > 0


def test_second_map_call_does_not_wrap_again(prepped_zip):
    original = zipimport.zipimporter.invalidate_caches
    _run_map_once()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not original
    _run_map_once()
    assert zipimport.zipimporter.invalidate_caches is wrapped
