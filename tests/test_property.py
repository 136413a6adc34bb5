"""Property-based kernel checks (hypothesis, no Spark session needed).

The load-bearing property of the vectorized kernel is *batch-split
invariance*: extracting a frame in one batch must equal extracting any
partition of it batch-by-batch and concatenating — this is exactly what
guarantees the Spark `mapInPandas` output (arbitrary Arrow batching,
arbitrary row order per the salted repartition) matches the
single-threaded oracle byte-for-byte.  Also: the kernel must never crash
on arbitrary unicode payloads (F11 null-guard semantics).

Each pass rewritten for speed is checked against the definition it
replaced, kept here as the spec: the document gate, the multispace
pattern, the gated respell steps, the head-only bilingual split, the
separator counts, RE2 expiry and the Arrow gate prefilter.
"""

from __future__ import annotations

import json
import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from ocr_spark.kernel import bilingual
from ocr_spark.kernel.cleanup import (
    _MULTISPACE_RE,
    _REJOIN_RES,
    _SPELL_RES,
    REJOIN,
    SPELLING,
    _respell,
    cleanup_series,
)
from ocr_spark.kernel.extract import (
    _VIT_ALT,
    _VIT_SCAN,
    _VIT_TERMS,
    OUTPUT_COLUMNS,
    _counts,
    _expiry,
    _is_american,
    _spans,
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
    assert out["status"].isin(
        ["ok", "empty", "rejected", "tool_parse_error", "layout_parse_error"]
    ).all()
    # spans/fields are valid JSON whenever status is not a failure
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


# --- long-payload passes: each rewrite against the definition it replaced --

def _arrow(texts) -> pd.Series:
    return pd.Series(texts, dtype="string[pyarrow]")


_ws_text = st.text(alphabet=" \t\na ", max_size=30)


@settings(max_examples=200, deadline=None)
@given(st.lists(_ws_text, min_size=1, max_size=8))
def test_multispace_skips_lone_spaces_same_output(texts):
    s = _arrow(texts)
    got = s.str.replace(_MULTISPACE_RE, " ", regex=True)
    want = s.str.replace(r"[ \t]+", " ", regex=True)  # every run, lone spaces too
    assert got.tolist() == want.tolist()


# every source string, its fragments and its replacement, between
# separators and word characters
_respell_piece = st.sampled_from(
    [f"{a} {b}" for a, b, _ in REJOIN]
    + [w for row in REJOIN for w in row]
    + [w for pair in SPELLING for w in pair]
    + [" ", " ", " ", "  ", "\n", "x", "1", "-", "é"]
)
_respell_text = st.lists(_respell_piece, max_size=6).map("".join)


@settings(max_examples=200, deadline=None)
@given(st.lists(_respell_text, min_size=1, max_size=8))
@example([f"{a} {b}" for a, b, _ in REJOIN] + [f"x {a}." for a, _ in SPELLING])
def test_gated_respell_matches_ungated_passes(texts):
    s = _arrow(texts)
    want = s
    for rx, repl in _REJOIN_RES + _SPELL_RES:  # the ungated steps 6-7
        want = want.str.replace(rx, repl, regex=True)
    assert _respell(s).tolist() == want.tolist()


def test_respell_outputs_hold_no_source_string():
    """Table guard: no REJOIN joined word and no SPELLING replacement
    contains a REJOIN/SPELLING source string.  So no pass produces a
    source string for a later pass to rewrite: what steps 6-7 rewrite is
    decided by the source strings present before step 6 alone, which is
    what the gate in ``_respell`` scans for."""
    sources = [f"{a} {b}" for a, b, _ in REJOIN] + [a for a, _ in SPELLING]
    outputs = [j for _, _, j in REJOIN] + [b for _, b in SPELLING]
    for out in outputs:
        for src in sources:
            assert src not in out, (src, out)


def _spec_split_block(text):
    """split_block as defined: scan every candidate token of the block."""
    hits = [
        m.start()
        for m in bilingual._CAND_TOKEN_RE.finditer(text)
        if bilingual._lev_le(m.group(), bilingual.MARKER, bilingual.MAX_EDITS)
    ]
    if len(hits) != 2 or hits[0] > bilingual.MAX_FIRST_OFFSET:
        return None
    return text[: hits[1]].rstrip(" "), text[hits[1] :].lstrip(" ")


_marker = st.sampled_from(
    ["Ingredients", "Ingredients:", "Ingrédients", "lngredients", "Ingredient",
     "INGREDIENTS", "xIngredients", "Ingredientsxyz", "Ingredientsxyzw"]
)
_split_piece = st.one_of(
    _marker,
    st.sampled_from([" ", "  ", "\n", "\t", "a", "ab", "abcde", "abcdefghij", "abcdefghijklmn"]),
)
# a head that puts the first token at each offset around MAX_FIRST_OFFSET
_split_head = st.sampled_from(
    ["", " ", "\t\t", "ab ", "a  \n", "abcd ", "    \n", "abcde ", "a b c d", "abcdefghij "]
)


@settings(max_examples=500, deadline=None)
@given(st.tuples(_split_head, _marker, st.lists(_split_piece, max_size=8)).map(
    lambda t: t[0] + t[1] + "".join(t[2])
))
@example("abcd Ingredients: x Ingrédients y")  # first occurrence at offset 5
@example("abcde Ingredients: x Ingrédients y")  # ... and at 6
def test_head_only_split_matches_full_scan(text):
    assert bilingual.split_block(text) == _spec_split_block(text)


def _spec_counts(text):
    """The split walk that the spans builder does."""
    if not text:
        return 0, 0, 0
    blocks = text.split("\n\n")
    lines = [ln for b in blocks for ln in b.split("\n")]
    return len(blocks), len(lines), sum(1 for ln in lines for t in ln.split(" ") if t)


_raw_text = st.one_of(
    st.text(max_size=60),
    st.text(alphabet=" \t\r\n\x0b 　a(/", max_size=40),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_raw_text, min_size=1, max_size=8))
def test_separator_counts_match_split_walk(texts):
    cleaned = cleanup_series(pd.Series(texts, dtype=object))
    nb, nl, nt = _counts(cleaned)
    assert list(zip(nb, nl, nt)) == [_spec_counts(t) for t in cleaned]
    # and the spans builder walks the same lines and tokens
    for t, spans, n_tok in zip(cleaned, _spans(cleaned), nt):
        assert sum(len(rec["t"]) for rec in json.loads(spans)) == n_tok, t


_date_piece = st.sampled_from(
    ["2024 JAN 05", "JAN 05 2024", "2024:FEB:11", "MAR/07/2026", "20240105",
     "20", "2024", "JAN", "FE", "MAR", "AB", "ABCD", "É", "jan", "05", "1", "0", "9",
     " ", ":", "/", "-", "\n", "x", "٢"]
)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(_date_piece, max_size=12).map("".join), min_size=1, max_size=8))
def test_re2_expiry_matches_python_re(texts):
    raw = pd.Series(texts, dtype=object)
    # the Python `re` definition: pandas str.extract on an object Series
    want = raw.str.extract(r"(20[0-9]{2}[ :/]?[A-Z]{2,3}[ :/]?[0-9]{2})", expand=False)
    need2 = want.isna()
    want.loc[need2] = raw[need2].str.extract(
        r"([A-Z]{2,3}[ :/][0-9]{2}[ :/]20[0-9]{2})", expand=False
    )
    got = _expiry(raw)
    assert [None if pd.isna(x) else x for x in got] == [None if pd.isna(x) else x for x in want]


@settings(max_examples=300, deadline=None)
@given(st.lists(_gate_text, min_size=1, max_size=8))
@example(["calcium iron zinc", "vitamin a 5 vitamin c\niron zinc 2"])
def test_arrow_gate_prefilter_is_superset(texts):
    cand = pc.match_substring_regex(pa.array(texts, type=pa.large_string()), _VIT_ALT)
    for text, c in zip(texts, cand.to_pylist()):
        if _VIT_SCAN.search(text):
            assert c, text
    # end to end: behind the prefilter, the kernel rejects exactly the
    # turns the per-term definition rejects
    out = extract_batch(
        _frame([{"conv_id": "c", "turn_idx": i, "role": "user", "text": t, "tool": ""}
                for i, t in enumerate(texts)])
    )
    raw = ["\n\n".join(p for p in re.split(r"\n\s*\n", t) if p.strip()) for t in texts]
    for status, cleaned in zip(out["status"], cleanup_series(pd.Series(raw))):
        assert (status == "rejected") == _spec_is_american(cleaned), cleaned
