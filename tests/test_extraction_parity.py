"""Per-turn equality with the pure-Python oracle.

This is THE project invariant (BASELINE.json): per-turn extracted-text
equality under stable (conv_id, turn_idx) ordering, plus field-level
equality of confidence, tokens, flags, dates, and sections.

``extract_turns`` runs the oracle's own code (``reference_oracle.
extract_turn``) in one Arrow UDF, so these tests pin the Arrow round
trip: every field of every row comes back from Spark as the oracle
computed it.  The DuckDB oracles of the extraction-rule contract
queries (``tests/test_rule_oracles.py``) are the independent check of
the rules themselves.
"""

import datetime

import pytest

from medical_pdf__ocr_structured_ccd_ccda_output_spark import fixtures, reference_oracle, rules
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import extract_turns

N_CONVS = 60


def _oracle_form(row):
    """A collected extraction row in the oracle's plain-Python form."""
    d = row.asDict(recursive=True)
    if d["extracted_date"] is not None:
        d["extracted_date"] = d["extracted_date"].isoformat()
    return d


@pytest.fixture(scope="module")
def golden():
    rows = fixtures.generate_transcripts(N_CONVS, seed=42)
    return {
        (r["conv_id"], r["turn_idx"]): reference_oracle.extract_turn(r["text"])
        for r in rows
    }


@pytest.fixture(scope="module")
def spark_rows(spark):
    df = fixtures.transcripts_spark_df(spark, N_CONVS, seed=42)
    return {(r["conv_id"], r["turn_idx"]): _oracle_form(r)
            for r in extract_turns(df).collect()}


def _fields_equal(golden, spark_rows, *fields):
    for key, g in golden.items():
        for f in fields:
            assert spark_rows[key][f] == g[f], (key, f, spark_rows[key][f], g[f])


def test_row_counts(golden, spark_rows):
    assert set(golden) == set(spark_rows)
    assert len(golden) > 200


def test_text_clean_equality(golden, spark_rows):
    _fields_equal(golden, spark_rows, "text_clean")


def test_confidence_equality(golden, spark_rows):
    _fields_equal(golden, spark_rows, "confidence")


def test_layout_hints(golden, spark_rows):
    _fields_equal(golden, spark_rows, "layout_hints")


def test_uncertain_tokens(golden, spark_rows):
    _fields_equal(golden, spark_rows, "uncertain_tokens")


def test_review_flags_and_reasons(golden, spark_rows):
    _fields_equal(golden, spark_rows, "manual_review_required", "review_reasons")


def test_boundary_and_date(golden, spark_rows):
    _fields_equal(golden, spark_rows, "is_boundary", "extracted_date")


def test_sections(golden, spark_rows):
    _fields_equal(golden, spark_rows, "sections")


def test_extract_turns_matches_oracle(golden, spark_rows):
    """Whole rows: the oracle's fields, last and in the oracle's order."""
    for key, g in golden.items():
        row = spark_rows[key]
        assert list(row)[-len(g):] == list(g), key
        assert {f: row[f] for f in g} == g, key


# (text, what the row must exercise: field -> expected value)
ADVERSARIAL = [
    (None, {"text_clean": rules.EMPTY_EXTRACTION_MARKER,
            "extracted_date": None}),
    (" \t\n\u00a0\n  ", {"text_clean": rules.EMPTY_EXTRACTION_MARKER}),
    ("\u00a0\u00a0MEDICATIONS:\n- aspirin 81 mg\n\u2003ALLERGIES\nnone",
     {"sections": ["MEDICATIONS", "ALLERGIES"]}),
    ("\n".join(f"[UNCLEAR: w{i}] MS note illegible (?)" for i in range(25)),
     {"uncertain_tokens": rules.MAX_UNCERTAIN_TOKENS}),
    ("Visit date: 01/02/0500\nfollow-up", {"extracted_date": "0500-01-02"}),
    ("Seen 3/4/49 for review", {"extracted_date": "2049-03-04"}),
    ("Seen 5/6/50 for review", {"extracted_date": "1950-05-06"}),
    ("Date 13/45/2020, rescheduled 2021-02-03",
     {"extracted_date": "2021-02-03"}),
    ("Seen 7/8/99, booked 0000-01-01", {"extracted_date": "1999-07-08"}),
    ("Date 00/00/0000 then 0000-01-01", {"extracted_date": None}),
    # one directed text per branch of the confidence estimator, scored
    # on the cleaned text ("" cleans to the empty-extraction marker)
    ("", {"confidence": 0.42}),
    ("short", {"confidence": 0.0}),                       # < 10 chars
    ("plain clinical note text here", {"confidence": 0.6}),  # < 50 chars
    ("[UNCLEAR: x] some note text", {"confidence": 0.42}),
    ("[UNCLEAR: a] [UNCLEAR: b] [UNCLEAR: c] text", {"confidence": 0.21}),
    ("signature illegible ~~~ (?)", {"confidence": 0.47}),  # handwriting
    ("l1lI O0O lIl 1O0 Il1O xxxx", {"confidence": 0.53}),   # ambiguous
    ("x" * 60, {"confidence": 0.7}),                      # no penalty
    (("line\n" * 30) + ("y" * 400), {"confidence": 0.75}),  # long bonus
    ("response blocked by safety filter today", {"confidence": 0.15}),
    ("HTN DM2 BID PRN PO CBC QID extra text", {"confidence": 0.54}),  # abbrevs
]


@pytest.mark.parametrize("with_sections", [True, False])
def test_extract_turns_adversarial_rows(spark, with_sections):
    """Rows at the edges of the rules (null and blank text, unicode
    whitespace before a header, the token cap, years below 1000, the
    2-digit-year pivot, invalid dates that fall through to the next
    pattern, every confidence branch): the oracle gives the expected
    values, and extract_turns equals the oracle."""
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(ADVERSARIAL)],
        "turn_idx int, text string")
    ours = extract_turns(df, with_sections=with_sections) \
        .orderBy("turn_idx").collect()
    assert len(ours) == len(ADVERSARIAL)
    for (text, expect), row in zip(ADVERSARIAL, ours):
        want = reference_oracle.extract_turn(text)
        for f, v in expect.items():
            w = want[f]
            if f == "sections":
                w = [s["section"] for s in w]
            elif f == "uncertain_tokens":
                w = len(w)
            assert w == v, (text, f)
        if row["extracted_date"] is not None:
            assert type(row["extracted_date"]) is datetime.date
        if not with_sections:
            del want["sections"]
        assert _oracle_form(row) == {"turn_idx": row["turn_idx"], **want}, text
