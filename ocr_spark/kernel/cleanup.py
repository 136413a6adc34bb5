"""Ordered token-cleanup chain, vectorized over pandas Series.

Mirrors the *fixed operation order* of the reference's ``clean_up_ocr``
(``NFT_OCR.py:787-809``) — order-sensitivity is a documented hard part: e.g.
locale decimal fix must precede glued-token splitting, lowercase must precede
the o->0 confusion fix.  The canonical order here is:

    1. french_floats   "2,5" -> "2.5"            (NFT_OCR.py:674-681)
    2. lowercase                                 (NFT_OCR.py:775-780)
    3. correct_bad_text  accent fold, junk chars,
       unit-suffix gt/gf -> g                    (NFT_OCR.py:751-773)
    4. footer truncation  drop everything at/after the first boilerplate
       phrase                                    (NFT_OCR.py:708-721,792-795)
    5. oh_to_zero       "Omg"/"Og" -> "0mg"/"0g" (NFT_OCR.py:662-672)
    6. rejoin_fragments  "s atures" -> "satures" (NFT_OCR.py:945-957)
    7. correct_spelling  dictionary respell      (NFT_OCR.py:683-693)
    8. split_glued      "15g" -> "15 g"          (NFT_OCR.py:839-904)
    9. split_slash      "fat/lipides" -> "fat lipides"  (NFT_OCR.py:564-581)
   10. normalize_ws     collapse spaces, drop blank lines  (NFT_OCR.py:695-706)

Every step is a whole-Series regex/str operation (pandas -> C regex engine);
no per-row Python.  The oracle wraps a scalar into a 1-row Series and calls
the same chain — one code path, parity by construction.

Two steps are cut to the bytes that can change:

- Steps 6-7 (11 passes) run only on the rows whose text contains one of
  their source strings, found by one unanchored literal scan.  A pass
  needs its source string to match, so a row without any is left
  unchanged by all 11 and skipping it is exact.
- Step 10 rewrites only whitespace runs that change: two or more
  characters, or any run holding a tab.  A lone space already is the
  single space a run collapses to; matching it would rewrite every word
  boundary into itself.
"""

from __future__ import annotations

import re

import pandas as pd

UNITS = ("mg", "ml", "ug", "kg", "kcal", "g")  # longest-first where prefixes overlap

FOOTER_PHRASES = (
    "daily values are based",
    "percent daily values",
    "valeur quotidienne",
    "all rights reserved",
    "terms of service",
    "privacy policy",
    "cookie policy",
    "subscribe to our newsletter",
    "click here to unsubscribe",
)

_ACCENT_MAP = str.maketrans(
    {
        "é": "e", "è": "e", "ê": "e", "ë": "e",
        "à": "a", "â": "a",
        "ç": "c",
        "ô": "o", "ö": "o",
        "î": "i", "ï": "i",
        "û": "u", "ù": "u", "ü": "u",
        "*": None, "†": None, "‡": None,
        "(": " ", ")": " ", "[": " ", "]": " ",
        "•": " ",
    }
)

# OCR-confusion respell table (NFT_OCR.py:683-693 correct_spelling).
SPELLING = (
    ("fiber", "fibre"),
    ("protien", "protein"),
    ("suger", "sugar"),
    ("calcuim", "calcium"),
    ("sodiurn", "sodium"),
    ("irom", "iron"),
)

# Adjacent-fragment rejoin table (NFT_OCR.py:945-957 merge_split_nutrients).
REJOIN = (
    ("s", "atures", "satures"),
    ("prot", "ein", "protein"),
    ("cal", "ories", "calories"),
    ("sucr", "es", "sucres"),
    ("fi", "bre", "fibre"),
)

# Patterns are kept as STRINGS (not pre-compiled re.Pattern): on a
# pyarrow-backed Series, pandas routes string patterns to Arrow's RE2
# kernels (C++, ~6x faster, measured); a compiled Python pattern forces
# the per-row object fallback.  IMPORTANT: parity rests on there being
# exactly ONE code path (oracle and UDF both call this function, so both
# run RE2) — NOT on RE2 and Python `re` matching identically.  They do
# not in general (e.g. `\b` is ASCII-only in RE2 but Unicode-aware in
# `re`, so "15gñ" tokenizes differently), so never compile these
# patterns or add an object-dtype fallback believing the tests would
# catch the divergence.
# CR-normalize then drop remaining C0/DEL controls (keep \n, \t): the
# junk-character cleanup analog (NFT_OCR.py:751-773) for byte noise; also
# guarantees spans/fields JSON never embeds a raw control character.
_CRLF_RE = r"\r\n?"
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
_FRENCH_FLOAT_RE = r"(\d),(\d)"
_GT_GF_RE = r"\b(\d+(?:\.\d+)?\s*)g[tf]\b"
_FOOTER_RE = (
    r"(?s)\s*\b(?:" + "|".join(re.escape(p) for p in FOOTER_PHRASES) + r")\b.*$"
)
_OH_ZERO_RE = r"\bo(" + "|".join(UNITS) + r")\b"
_REJOIN_RES = tuple(
    (r"\b" + re.escape(a) + r" " + re.escape(b) + r"\b", joined)
    for a, b, joined in REJOIN
)
_SPELL_RES = tuple((r"\b" + re.escape(a) + r"\b", b) for a, b in SPELLING)
# steps 6-7 gate: the source strings as unanchored literals, a superset
# of the rows any of the 11 passes can rewrite
_RESPELL_SOURCES_RE = "|".join(
    [re.escape(f"{a} {b}") for a, b, _ in REJOIN] + [re.escape(a) for a, _ in SPELLING]
)
_GLUED_RE = r"\b(\d+(?:\.\d+)?)(" + "|".join(UNITS) + r")\b"
_SLASH_RE = r"\b([a-z]+)/([a-z]+)\b"
_MULTISPACE_RE = r" [ \t]+|\t[ \t]*"  # runs that change; a lone space stays
_EDGE_SPACE_RE = r"[ \t]*\n[ \t]*"
_BLANK_LINES_RE = r"\n{2,}"


def _respell(s: pd.Series) -> pd.Series:
    """Steps 6-7 on the rows holding a source string; the rest can't change."""
    gate = s.str.contains(_RESPELL_SOURCES_RE, regex=True)
    if not gate.any():
        return s
    r = s[gate]
    for rx, repl in _REJOIN_RES + _SPELL_RES:
        r = r.str.replace(rx, repl, regex=True)
    return s.mask(gate, r)


def cleanup_series(s: pd.Series) -> pd.Series:
    """Apply the canonical 10-step chain to a Series of block texts.

    Input strings may contain ``\\n`` (line) and ``\\n\\n`` (block)
    separators; no regex here crosses a line boundary except the footer
    truncation, which deliberately does (drop *everything below* the first
    boilerplate phrase, like ``drop_below_term``).

    Runs on Arrow-backed strings so the regex passes execute in Arrow's
    RE2 kernels; returns an object-dtype Series (the contract the rest of
    the kernel expects).
    """
    s = s.fillna("").astype("string[pyarrow]")
    s = s.str.replace(_CRLF_RE, "\n", regex=True)                      # 0a
    s = s.str.replace(_CTRL_RE, "", regex=True)                        # 0b
    s = s.str.replace(_FRENCH_FLOAT_RE, r"\1.\2", regex=True)          # 1
    s = s.str.lower()                                                  # 2
    # str.translate has no Arrow kernel; the per-row C translate is cheap
    s = s.map(lambda x: x.translate(_ACCENT_MAP)).astype("string[pyarrow]")  # 3a
    s = s.str.replace(_GT_GF_RE, r"\1g", regex=True)                   # 3b
    s = s.str.replace(_FOOTER_RE, "", regex=True)                      # 4
    s = s.str.replace(_OH_ZERO_RE, r"0\1", regex=True)                 # 5
    s = _respell(s)                                                    # 6-7
    s = s.str.replace(_GLUED_RE, r"\1 \2", regex=True)                 # 8
    s = s.str.replace(_SLASH_RE, r"\1 \2", regex=True)                 # 9
    s = s.str.replace(_MULTISPACE_RE, " ", regex=True)                 # 10
    s = s.str.replace(_EDGE_SPACE_RE, "\n", regex=True)
    s = s.str.replace(_BLANK_LINES_RE, "\n\n", regex=True)
    return s.str.strip().astype(object).fillna("")


def cleanup_one(text: str) -> str:
    """Scalar convenience wrapper (tests / interactive use)."""
    return cleanup_series(pd.Series([text])).iloc[0]
