"""Per-turn equality: Spark extraction vs the pure-Python oracle.

This is THE project invariant (BASELINE.json): per-turn extracted-text
equality under stable (conv_id, turn_idx) ordering, plus field-level
equality of confidence, tokens, flags, dates, and sections.
"""

import pytest

from medical_pdf__ocr_structured_ccd_ccda_output_spark import fixtures, reference_oracle, rules
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import extract_turns

N_CONVS = 60


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
    out = extract_turns(df)
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
    from pyspark.sql import functions as F
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.confidence import confidence_expr
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
