"""Unit tests for the pure extraction core — the engine-side equivalent of
the reference's extractor unit tests (SURVEY.md §5.1): literal strings in,
parsed values out. No Spark session needed."""

from __future__ import annotations

import json
import os

import pytest

from biosd_feature_annotator_spark.operators.extract import extract_from_text, fmt_num
from biosd_feature_annotator_spark.sources.lexicon import load_lexicon

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")
LEX = load_lexicon(os.path.join(GOLDEN_DIR, "lexicon.json"))


def vals(text):
    return sorted(
        (m["obj"], m["unit"]) for m in extract_from_text(text, LEX) if m["kind"] != "term"
    )


def terms(text):
    out = []
    for m in extract_from_text(text, LEX):
        if m["kind"] == "term":
            tid, kind = LEX.surface_map.get(m["match_norm"], (None, None))
            if m["match_kind"] == "tokens":
                tid = next(t for t, toks in LEX.token_labels if " ".join(toks) == m["match_norm"])
            if tid and tid not in LEX.non_emitting:
                out.append((tid, m["match_kind"]))
    return sorted(out)


# ---- numbers (X1) --------------------------------------------------------
def test_number_simple():
    assert vals("the value was 45.5 overall") == [("num:45.5", None)]


def test_number_negative_and_zero():
    assert vals("count = -12") == [("num:-12", None)]
    assert vals("reading of 0 recorded") == [("num:0", None)]


def test_number_scientific():
    assert vals("concentration 4.5e-3 molar") == [("num:0.0045", None)]
    assert vals("dose 9e999 administered") == []  # overflow is not a value


def test_number_word_boundary_negative():
    assert vals("abc123 suffix") == []
    assert vals("mouse model, C57BL/6") == []


def test_number_unit():
    assert vals("weight 72 kg at intake") == [("num:72", "kilogram")]
    # first unit wins; the second 72 shares (obj, pred) and is deduped
    assert vals("weighed 72 kg and measured 72 cm today") == [("num:72", "kilogram")]


# ---- ranges (X2) ---------------------------------------------------------
@pytest.mark.parametrize(
    "text,expected",
    [
        ("dose 10-20 administered", [("range:[10,20]", None)]),
        ("between 2.5 and 7.5 units/ml", [("range:[2.5,7.5]", None)]),
        ("span 30 to 20 inverted", [("range:[20,30]", None)]),
        ("temp 36.5 .. 37.5 observed", [("range:[36.5,37.5]", None)]),
        ("5-10 weeks storage", [("range:[5,10]week", "week")]),
        ("catalog -5 discount", [("num:-5", None)]),  # sign, not range
        ("between 3 and 9 years old since 1998",
         [("range:[3,9]year", "year"), ("date:1998-01-01", None)]),
    ],
)
def test_ranges(text, expected):
    assert vals(text) == sorted(expected)


# ---- dates (X3) ----------------------------------------------------------
@pytest.mark.parametrize(
    "text,expected",
    [
        ("collected on 2012-12-31 from site A", [("date:2012-12-31", None)]),
        ("received 31/12/2012 by courier", [("date:2012-12-31", None)]),
        ("shipped 05-Mar-2019 priority", [("date:2019-03-05", None)]),
        ("archived Mar 2019 batch", [("date:2019-03-01", None)]),
        ("since 1998 continuously", [("date:1998-01-01", None)]),
        # bare year without cue stays a number
        ("room 2019 on floor 3", [("num:2019", None), ("num:3", None)]),
        # precedence: date beats range beats number on the same span
        ("2012-12-31", [("date:2012-12-31", None)]),
    ],
)
def test_dates(text, expected):
    assert vals(text) == sorted(expected)


def test_invalid_date_not_extracted():
    # 45/99/2012 is no date; with the dd/MM shape failing validation the
    # span falls through to lower-precedence extractors deterministically
    assert ("date:", None) not in [(o[:5], u) for o, u in vals("code 45/99/2012 here")]


# ---- terms (X5) ----------------------------------------------------------
def test_term_label_vs_synonym():
    assert terms("The sample organism is Homo sapiens.") == [("NCBITaxon_9606", "label")]
    assert terms("subject: human donor, adult") == [("NCBITaxon_9606", "synonym")]
    assert terms("HOMO SAPIENS") == [("NCBITaxon_9606", "label")]


def test_term_word_boundary():
    assert terms("humanized antibody assay") == []


def test_term_multiple():
    assert terms("the human and mouse cohorts") == [
        ("NCBITaxon_10090", "synonym"),
        ("NCBITaxon_9606", "synonym"),
    ]


def test_term_token_containment_medium():
    assert terms("sapiens first, homo later") == [("NCBITaxon_9606", "tokens")]


# ---- age routing context (X4/P5 input) ------------------------------------
def test_age_context_flag():
    ms = extract_from_text("age: 40 years", LEX)
    m = next(m for m in ms if m["kind"] == "number")
    assert m["age_ctx"] and m["unit"] == "year"
    ms = extract_from_text("40 years of storage", LEX)
    m = next(m for m in ms if m["kind"] == "number")
    assert not m["age_ctx"] and m["unit"] == "year"


def test_blank_and_null():
    assert extract_from_text("", LEX) == []
    assert extract_from_text("   ", LEX) == []
    assert extract_from_text(None, LEX) == []


def test_fmt_num():
    assert fmt_num(40.0) == "40"
    assert fmt_num(-12.0) == "-12"
    assert fmt_num(45.5) == "45.5"
    assert fmt_num(0.0045) == "0.0045"


# ---- full golden sweep on the pure core -----------------------------------
def test_golden_objs_pure():
    cases = json.load(open(os.path.join(GOLDEN_DIR, "golden_triples.json")))["cases"]
    for c in cases:
        got = vals(c["text"])
        exp = sorted(
            (e["obj"], e.get("unit"))
            for e in c["expected"]
            if not e["obj"].startswith(("NCBITaxon", "PATO", "EFO"))
        )
        assert got == exp, f"{c['id']}: {got} != {exp}"
