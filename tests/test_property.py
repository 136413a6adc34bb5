"""Property-based kernel checks (hypothesis, no Spark session needed).

The load-bearing property of the vectorized kernel is *batch-split
invariance*: extracting a frame in one batch must equal extracting any
partition of it batch-by-batch and concatenating — this is exactly what
guarantees the Spark `mapInPandas` output (arbitrary Arrow batching,
arbitrary row order per the salted repartition) matches the
single-threaded oracle byte-for-byte.  Also: the kernel must never crash
on arbitrary unicode payloads (F11 null-guard semantics).
"""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ocr_spark.kernel.extract import (
    _VIT_SCAN,
    _VIT_TERMS,
    OUTPUT_COLUMNS,
    _is_american,
    extract_batch,
)

# Payload soup: plain unicode, HTML-ish fragments, tool JSON, pathological
# whitespace/controls — far outside the synthetic generator's classes.
_payload = st.one_of(
    st.text(max_size=300),
    st.text(alphabet="<>/ab \n\"'&;=-", max_size=200),
    st.builds(
        lambda s: f'<html><nav><a href="x">{s}</a></nav><div><p>{s} {s} extra words</p></div></html>',
        st.text(max_size=60),
    ),
    st.builds(lambda s: f'{{"name":"t","output":{s!r}}}', st.text(max_size=80)),
    st.just(""),
    st.builds(lambda n: "word " * n, st.integers(0, 50)),
)

_row = st.fixed_dictionaries(
    {
        "conv_id": st.text(alphabet="abc0123", min_size=1, max_size=8),
        "turn_idx": st.integers(0, 1000),
        "role": st.sampled_from(["user", "assistant", "tool"]),
        "text": _payload,
        "tool": st.one_of(st.just(""), _payload),
    }
)


def _frame(rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_row, min_size=1, max_size=12), st.integers(0, 11))
def test_batch_split_invariance(rows, cut):
    pdf = _frame(rows)
    cut = min(cut, len(pdf))
    whole = extract_batch(pdf).reset_index(drop=True)
    parts = [p for p in (pdf.iloc[:cut], pdf.iloc[cut:]) if len(p)]
    split = pd.concat([extract_batch(p) for p in parts], ignore_index=True)
    pd.testing.assert_frame_equal(whole, split)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_row, min_size=1, max_size=8))
def test_never_crashes_and_schema_stable(rows):
    out = extract_batch(_frame(rows))
    assert list(out.columns) == OUTPUT_COLUMNS
    assert len(out) == len(rows)
    assert out["status"].isin(["ok", "empty", "rejected", "tool_parse_error"]).all()
    # spans/fields are valid JSON whenever status is not a failure
    import json

    for _, r in out.iterrows():
        json.loads(r["spans_json"])
        json.loads(r["fields_json"])


def test_nan_and_none_payloads():
    pdf = _frame(
        [
            {"conv_id": "x", "turn_idx": 0, "role": "user", "text": None, "tool": ""},
            {"conv_id": "x", "turn_idx": 1, "role": "tool", "text": "", "tool": None},
        ]
    )
    out = extract_batch(pdf)
    assert out["status"].tolist() == ["empty", "empty"]


# --- document gate: one scan per line == one search per term ---------------

# the per-term definition of is_american_nft (NFT_OCR.py:959-978): one
# \b-bounded search per vocabulary term, per line
_VIT_RES = tuple(re.compile(r"\b" + re.escape(t) + r"\b") for t in _VIT_TERMS)


def _spec_line_terms(line: str) -> set[str]:
    return {t for t, rx in zip(_VIT_TERMS, _VIT_RES) if rx.search(line)}


def _spec_is_american(text: str) -> bool:
    lines = [ln for block in text.split("\n\n") for ln in block.split("\n")]
    line_terms = [_spec_line_terms(line) for line in lines]
    first_line: dict[str, int] = {}
    for idx, present in enumerate(line_terms):
        for t in present:
            first_line.setdefault(t, idx)
    return sum(1 for ln in first_line.values() if len(line_terms[ln]) >= 2) >= 3


# whole terms, every prefix of each term, digits and separators: text
# where terms abut, nest in longer words and share lines
_gate_piece = st.one_of(
    st.sampled_from(_VIT_TERMS),
    st.sampled_from(sorted({t[:k] for t in _VIT_TERMS for k in range(1, len(t))})),
    st.sampled_from(list("0123456789") + [" ", "\n", "\n\n", ",", ":", "%", "/", "-", "s"]),
)
_gate_text = st.lists(_gate_piece, max_size=40).map("".join)


@settings(max_examples=400, deadline=None)
@given(_gate_text)
def test_gate_one_scan_matches_per_term_search(text):
    for line in text.split("\n"):
        assert set(_VIT_SCAN.findall(line)) == _spec_line_terms(line), line
    assert _is_american(text) == _spec_is_american(text)
