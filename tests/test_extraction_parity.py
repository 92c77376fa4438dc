"""Per-turn equality with the pure-Python oracle.

This is THE project invariant (BASELINE.json): per-turn extracted-text
equality under stable (conv_id, turn_idx) ordering, plus field-level
equality of confidence, tokens, flags, dates, and sections.

``extract_turns`` runs the oracle's own code (``reference_oracle.
extract_turn``) in one Arrow UDF, so the field-by-field tests below
pin the JVM twins in ``functions/`` -- the references the contract
queries run -- against the oracle, built as the projection production
used to run.  ``test_extract_turns_adversarial_rows`` sends the rows
where the Arrow round trip or a twin could diverge through both.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark import fixtures, reference_oracle, rules
from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.cleaning import (
    clean_text_expr,
    layout_hints_expr,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.confidence import confidence_expr
from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.dates import (
    extracted_date_expr,
    is_visit_boundary_expr,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.sections import sections_expr
from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.tokens import (
    needs_review_expr,
    review_reasons_expr,
    uncertain_tokens_expr,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import extract_turns

N_CONVS = 60


def jvm_extract(df):
    """extract_turns' fields from the JVM twins alone, in the same
    dependency order and column order."""
    df = df.withColumn("text_clean", clean_text_expr(F.col("text")))
    c = F.col("text_clean")
    df = df.withColumns({
        "confidence": confidence_expr(c),
        "layout_hints": layout_hints_expr(c),
        "uncertain_tokens": uncertain_tokens_expr(c),
    })
    conf, unc = F.col("confidence"), F.col("uncertain_tokens")
    return df.withColumns({
        "manual_review_required": needs_review_expr(conf, unc),
        "review_reasons": review_reasons_expr(conf, unc, c),
        "is_boundary": is_visit_boundary_expr(c),
        "extracted_date": extracted_date_expr(c),
        "sections": sections_expr(c),
    }).drop("text")


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
    out = jvm_extract(df)
    return {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
            for r in out.collect()}


def test_row_counts(golden, spark_rows):
    assert set(golden) == set(spark_rows)
    assert len(golden) > 200


def test_text_clean_equality(golden, spark_rows):
    for key, g in golden.items():
        assert spark_rows[key]["text_clean"] == g["text_clean"], key


def test_confidence_equality(golden, spark_rows):
    for key, g in golden.items():
        assert spark_rows[key]["confidence"] == g["confidence"], (
            key, spark_rows[key]["confidence"], g["confidence"])


def test_layout_hints(golden, spark_rows):
    for key, g in golden.items():
        got = spark_rows[key]["layout_hints"]
        assert got["has_tables"] == g["layout_hints"]["has_tables"], key
        assert got["has_handwriting"] == g["layout_hints"]["has_handwriting"], key


def test_uncertain_tokens(golden, spark_rows):
    for key, g in golden.items():
        got = spark_rows[key]["uncertain_tokens"]
        assert got == g["uncertain_tokens"], (key, got, g["uncertain_tokens"])


def test_review_flags_and_reasons(golden, spark_rows):
    for key, g in golden.items():
        assert spark_rows[key]["manual_review_required"] == g["manual_review_required"], key
        assert spark_rows[key]["review_reasons"] == g["review_reasons"], (
            key, spark_rows[key]["review_reasons"], g["review_reasons"])


def test_boundary_and_date(golden, spark_rows):
    for key, g in golden.items():
        assert spark_rows[key]["is_boundary"] == g["is_boundary"], key
        got_date = spark_rows[key]["extracted_date"]
        got_date = got_date.strftime("%Y-%m-%d") if got_date else None
        assert got_date == g["extracted_date"], (key, got_date, g["extracted_date"])


def test_sections(golden, spark_rows):
    for key, g in golden.items():
        assert spark_rows[key]["sections"] == g["sections"], (
            key, spark_rows[key]["sections"], g["sections"])


def test_extract_turns_matches_oracle(spark, golden):
    df = fixtures.transcripts_spark_df(spark, N_CONVS, seed=42)
    got = {(r["conv_id"], r["turn_idx"]): r for r in extract_turns(df).collect()}
    assert set(got) == set(golden)
    for key, g in golden.items():
        row = _oracle_form(got[key])
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
]


@pytest.mark.parametrize("with_sections", [True, False])
def test_extract_turns_adversarial_rows(spark, with_sections):
    """Rows at the edges of the rules (null and blank text, unicode
    whitespace before a header, the token cap, years below 1000, the
    2-digit-year pivot, invalid dates that fall through to the next
    pattern): extract_turns and the JVM twins both equal the oracle."""
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(ADVERSARIAL)],
        "turn_idx int, text string")
    ours = extract_turns(df, with_sections=with_sections) \
        .orderBy("turn_idx").collect()
    twins = jvm_extract(df).orderBy("turn_idx").collect()
    assert len(ours) == len(twins) == len(ADVERSARIAL)
    for (text, expect), row, twin in zip(ADVERSARIAL, ours, twins):
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
        assert _oracle_form(twin) == {"turn_idx": twin["turn_idx"], **want}
        if not with_sections:
            del want["sections"]
        assert _oracle_form(row) == {"turn_idx": row["turn_idx"], **want}, text


def test_confidence_unit_cases():
    """Directed cases for every branch of the estimator."""
    cases = [
        "",                                  # -> 0.0
        "short",                             # < 10 chars -> 0.0
        "plain clinical note text here",     # base path
        "[UNCLEAR: x] some note text",       # unclear penalty + cap 0.75
        "[UNCLEAR: a] [UNCLEAR: b] [UNCLEAR: c] text",
        "signature illegible ~~~ (?)",       # handwriting indicators
        "l1lI O0O lIl 1O0 Il1O xxxx",        # ambiguous ratio
        "x" * 60,                            # no penalty length
        ("line\n" * 30) + ("y" * 400),       # long doc bonus
        "response blocked by safety filter today",
        "HTN DM2 BID PRN PO CBC QID extra text",  # abbrev penalty
    ]
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import get_spark
    spark = get_spark("unit", shuffle_partitions=4)
    df = spark.createDataFrame([(c,) for c in cases], "text_clean string")
    got = [r[0] for r in df.select(confidence_expr(F.col("text_clean"))).collect()]
    want = [rules.score_confidence(c) for c in cases]
    assert got == want


def test_section_prefilter_same_in_every_process():
    """The section prefilter pattern does not follow the string hash
    seed: processes with different PYTHONHASHSEEDs build the same
    pattern, so plans and compiled regexes repeat from run to run."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions"
            ".sections import SECTION_PREFILTER; print(SECTION_PREFILTER)")

    def pattern(seed):
        return subprocess.run(
            [sys.executable, "-c", code], cwd=root, capture_output=True,
            text=True, check=True, timeout=120,
            env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout

    assert pattern("1") == pattern("2")
