"""Structured field extraction: term match -> value/unit/dv -> conflict merge.

Re-expresses, over cleaned transcript text, the reference's extraction core:

- term vocabulary + EN->FR translation     NFT_OCR.py:1090-1119
- longest-match disambiguation ("total fat" vs "fat", "sugars" vs
  "sugar alcohols")                        NFT_OCR.py:141-199
- positional value/unit/dv cascade         NFT_OCR.py:1197-1241
- unit whitelist                           NFT_OCR.py:1150-1161
- conflict-detecting merge: same field seen twice with unequal values
  -> sentinel "conflict"                   NFT_OCR.py:1163-1183
- two-pass extraction: fields still missing after pass 1 get a scoped
  second parse (value-before-term), fill-missing-only merge
                                           NFT_OCR.py:1254-1270,1415-1441,1514-1517
- absence inference: "not a significant source of X, Y" -> "absent"
                                           NFT_OCR.py:1360-1395

One pass per row: P1, then P2 filling missing cells, then absence, then
expiry, then the JSON string, with per-field state in a small dict (a row
has at most 25 fields, too few for a general hash aggregation to pay).
Only a vectorized term prefilter runs over the whole Series.  Matches are
read as ``Pattern.findall`` tuples, not ``Match`` objects: no group (term,
qty, unit, dv) can match the empty string, so ``""`` in a tuple stands
exactly for a group that did not take part.  Output is a deterministic
JSON string per turn (sorted field keys), so byte-equality is the parity
check.
"""

from __future__ import annotations

import re

import pandas as pd

# (surface term, canonical field) — order matters: longest/most-specific
# first so the regex alternation implements longest-match disambiguation.
VOCAB: tuple[tuple[str, str], ...] = (
    ("sugar alcohols", "sugar_alcohols"),
    ("total sugars", "sugars"),
    ("saturated fat", "saturated_fat"),
    ("trans fat", "trans_fat"),
    ("total fat", "fat"),
    ("vitamin a", "vitamin_a"),
    ("vitamin c", "vitamin_c"),
    ("carbohydrate", "carbohydrate"),
    ("cholesterol", "cholesterol"),
    ("calories", "calories"),
    ("proteines", "protein"),   # FR
    ("protein", "protein"),
    ("glucides", "carbohydrate"),  # FR
    ("lipides", "fat"),         # FR
    ("satures", "saturated_fat"),  # FR
    ("sodium", "sodium"),
    ("sucres", "sugars"),       # FR
    ("sugars", "sugars"),
    ("fibres", "fibre"),        # FR
    ("fibre", "fibre"),
    ("calcium", "calcium"),
    ("iron", "iron"),
    ("fer", "iron"),            # FR
    ("fat", "fat"),
)

TERM_TO_FIELD = {t: f for t, f in VOCAB}

UNIT_WHITELIST = ("kcal", "mg", "ml", "ug", "g")

_TERM_ALT = "|".join(re.escape(t) for t, _ in VOCAB)
_UNIT_ALT = "|".join(UNIT_WHITELIST)

# pass 1: term [:] [qty] [unit] [dv%].  The qty group must NOT capture a
# number that is immediately a percentage: the reference routes a bare
# "term N %" to dv, not quantity (NFT_OCR.py:1222-1230 — "%" right after
# the value means dv) — hence the (?![ ]?%) lookahead.
_P1 = re.compile(
    rf"\b(?P<term>{_TERM_ALT})\b:?(?:[ ]?(?P<qty>\d+(?:\.\d+)?)(?![.\d])(?![ ]?%)[ ]?"
    rf"(?P<unit>{_UNIT_ALT})?\b)?(?:[ ]?(?P<dv>\d+(?:\.\d+)?)[ ]?%)?"
)
# pass 2 (scoped re-extract): qty [unit] term; findall tuples are
# (qty, unit, term)
_P2 = re.compile(
    rf"\b(?P<qty>\d+(?:\.\d+)?)[ ]?(?P<unit>{_UNIT_ALT})?[ ]"
    rf"(?:of )?(?P<term>{_TERM_ALT})\b"
)
_ABSENT_PAT = "not a significant source of "
_ABSENT = re.compile(_ABSENT_PAT + r"([a-z ,]+)")

CONFLICT = "conflict"
ABSENT = "absent"
MISSING = ""


def _resolve(matches, fields: dict[str, list[str]]) -> None:
    """Conflict-detecting merge of one pass's matches into ``fields``
    (A1 semantics): qty is the one distinct value seen, "conflict" for
    two or more, MISSING for none; unit and dv are the first non-empty
    value in match order."""
    for field, qty, unit, dv in matches:
        cur = fields.get(field)
        if cur is None:
            fields[field] = [qty, unit, dv]
            continue
        if qty and cur[0] != qty:
            cur[0] = qty if not cur[0] else CONFLICT
        if not cur[1]:
            cur[1] = unit
        if not cur[2]:
            cur[2] = dv


def _row_fields(text: str, termed: bool, date: str | None) -> tuple[str, int]:
    """One row: P1 -> P2 fill-missing -> absence -> expiry -> JSON."""
    fields: dict[str, list[str]] = {}
    absent: set[str] = set()
    if termed:
        t2f = TERM_TO_FIELD
        _resolve(((t2f[t], q, u, d) for t, q, u, d in _P1.findall(text)), fields)
        # pass 2 only fills cells that pass 1 left missing (fill-missing
        # merge, merge_results NFT_OCR.py:1415-1441 with
        # test_conflicts=False), per column: a field with a qty can still
        # take its unit from P2.  P2 runs only when some cell is missing.
        if not fields or not all(all(v) for v in fields.values()):
            p2: dict[str, list[str]] = {}
            _resolve(((t2f[t], q, u, "") for q, u, t in _P2.findall(text)), p2)
            for field, alt in p2.items():
                cur = fields.setdefault(field, alt)
                for i in (0, 1):
                    if not cur[i]:
                        cur[i] = alt[i]
        # absence inference: listed fields with no quantity -> "absent"
        if _ABSENT_PAT in text:
            for listed in _ABSENT.findall(text):
                for term in listed.split(","):
                    field = t2f.get(term.strip())
                    if field is not None:
                        absent.add(field)
                        fields.setdefault(field, [MISSING, MISSING, MISSING])
    # expiry dates (pre-extracted from raw text) join the field table as a
    # first-class "expiry" field — the reference's extract_expiry result
    # lands in the same per-document record (Ingredients_OCR.py:295-305)
    if date is not None:
        fields["expiry"] = [date, MISSING, MISSING]
    if not fields:
        return "{}", 0
    items = []
    for field in sorted(fields):
        qty, unit, dv = fields[field]
        if not qty and field in absent:
            qty = ABSENT
        status = qty if qty in (CONFLICT, ABSENT) else "ok" if qty else "missing"
        items.append(
            f'"{field}":{{"qty":"{qty}","unit":"{unit}","dv":"{dv}","status":"{status}"}}'
        )
    return "{" + ",".join(items) + "}", len(items)


def extract_fields_series(
    cleaned: pd.Series, expiry: pd.Series | None = None
) -> tuple[pd.Series, pd.Series]:
    """Series of cleaned text -> (fields_json Series, n_fields Series).

    JSON shape: {"field": {"qty": "15", "unit": "g", "dv": "20", "status":
    "ok|conflict|missing|absent"}} with field keys sorted — deterministic
    bytes for the parity gate.

    ``expiry`` (optional, aligned to ``cleaned``): pre-extracted expiry
    date strings (``extract_expiry``, Ingredients_OCR.py:295-305); non-null
    entries become an ``expiry`` field with the date as qty, status ok.
    """
    # prefilter: a row with no vocabulary term gets no field from P1, P2
    # or absence (each needs a vocabulary term, and the unanchored literal
    # alternation is a superset of the bounded one)
    has_term = (
        cleaned.str.contains(_TERM_ALT, regex=True).fillna(False).astype(bool)
    )
    dates: dict = {}
    if expiry is not None:
        exp = expiry.dropna()
        dates = dict(zip(exp.index, exp.astype(str)))
    out = [
        _row_fields(text, termed, dates.get(idx)) if termed or idx in dates else ("{}", 0)
        for idx, text, termed in zip(cleaned.index, cleaned.tolist(), has_term.tolist())
    ]
    fields_json = pd.Series([j for j, _ in out], index=cleaned.index, dtype=object)
    n_fields = pd.Series([n for _, n in out], index=cleaned.index, dtype="int64")
    return fields_json, n_fields
