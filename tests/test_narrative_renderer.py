"""S9 human-readable narrative renderer (renderers/text.py) — structure
parity with the reference's pdf_renderer.py:99-154 / docx_renderer.py:
28-78, document-order section rows, and the dedup-ordinal carry-through
(round-2 ADVICE fix)."""

import pyspark.sql.functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import dedup
from medical_pdf__ocr_structured_ccd_ccda_output_spark.renderers import (
    text as rt,
)


def _problems(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, visit_id string, problem string, "
        "icd10_code string, status string, source_page int, "
        "source_line_in_turn int",
    )


def test_narrative_structure(spark):
    """Full document layout: title, header block, disclaimer,
    demographics, numbered visits in visit_id order, section order per
    docx_renderer.py:176-183, data-quality notes, footer."""
    visits = spark.createDataFrame(
        [("c1", "visit_001", "2024-03-15", 0.8),
         ("c1", "visit_002", None, 0.6)],
        "conv_id string, visit_id string, visit_date string, confidence double",
    ).withColumn("visit_date", F.col("visit_date").cast("date"))
    probs = _problems(spark, [
        ("c1", "visit_001", "hypertension", "I10", "active", 1, 1),
        ("c1", "visit_002", "cough", None, None, 4, 1),
    ])
    meds = spark.createDataFrame(
        [("c1", "visit_001", "Metformin", "500mg", "BID", None, 1, 2)],
        "conv_id string, visit_id string, name string, dose string, "
        "frequency string, route string, source_page int, "
        "source_line_in_turn int",
    )
    patients = spark.createDataFrame(
        [("c1", "p42", "Jane Roe", "1975-06-01", "female")],
        "conv_id string, patient_id string, patient_name string, "
        "dob string, sex string",
    ).withColumn("dob", F.col("dob").cast("date"))
    secs = rt.narrative_sections(medications=meds, problems=probs)
    doc = rt.render_narrative(visits, sections=secs,
                              patients=patients).first()["narrative"]

    assert doc.startswith("MEDICAL RECORD SUMMARY\n======================")
    assert "Patient: Jane Roe" in doc and "DOB: 1975-06-01" in doc
    assert rt.DISCLAIMER in doc and doc.endswith(rt.FOOTER)
    assert ("PATIENT DEMOGRAPHICS\nName: Jane Roe\nPatient ID: p42\n"
            "Date of Birth: 1975-06-01\nSex: female") in doc
    # visits numbered in visit_id order with dates / Unknown Date
    i1 = doc.index("VISIT 1: 2024-03-15")
    i2 = doc.index("VISIT 2: Unknown Date")
    assert i1 < i2
    assert "OCR Confidence: 0.8000" in doc
    # section order inside visit 1: MEDICATIONS before PROBLEM LIST
    v1 = doc[i1:i2]
    assert v1.index("MEDICATIONS\n") < v1.index("PROBLEM LIST\n")
    assert "• Metformin — Dose: 500mg, Frequency: BID, Route: N/A [Page 1]" in v1
    assert "• hypertension (ICD-10: I10) - active [Page 1]" in v1
    # visit 2 has only the problem section
    v2 = doc[i2:]
    assert "• cough [Page 4]" in v2 and "MEDICATIONS" not in v2
    # data quality: avg of 0.8 and 0.6
    assert "OCR Confidence (Average): 70.0%" in doc
    assert "Visits Processed: 2" in doc


def test_narrative_no_demographics_and_empty_sections(spark):
    visits = spark.createDataFrame(
        [("c1", "visit_001", None, 0.5)],
        "conv_id string, visit_id string, visit_date date, confidence double",
    )
    doc = rt.render_narrative(visits).first()["narrative"]
    assert "PATIENT DEMOGRAPHICS\nNo patient demographics available" in doc
    assert "Patient: Unknown" in doc and "Sex: Unknown" in doc
    assert "VISIT 1: Unknown Date" in doc
    # no sections rendered at all
    assert "PROBLEM LIST" not in doc


def test_section_rows_in_document_order(spark):
    """Same-page rows must order by source_line_in_turn (document
    order), not lexicographically by content — the round-2 ADVICE
    fidelity fix."""
    probs = _problems(spark, [
        # lexicographic order would put "aaa zebra" first; document
        # order (line 1 before line 9) puts "zzz first" first
        ("c1", "visit_001", "zzz first", None, None, 1, 1),
        ("c1", "visit_001", "aaa zebra", None, None, 1, 9),
    ])
    body = rt.narrative_sections(problems=probs).first()["sections_text"]
    assert body.index("zzz first") < body.index("aaa zebra")


def test_dedup_carries_line_ordinal(spark):
    """dedup_entities output keeps the kept (base) record's
    source_line_in_turn so renderers can sort same-page entities in
    dedup-output order."""
    ents = _problems(spark, [
        ("c1", "visit_001", "hypertension", None, None, 1, 7),
        ("c1", "visit_001", "hypertension", None, "active", 1, 9),
        ("c1", "visit_001", "asthma", None, None, 1, 2),
    ])
    merged, _ = dedup.split_dedup_output(dedup.dedup_entities(ents, "problem"))
    rows = {r["problem"]: r for r in merged.collect()}
    assert rows["asthma"]["source_line_in_turn"] == 2
    assert rows["hypertension"]["source_line_in_turn"] == 7  # kept record


def test_pipeline_with_narrative(spark):
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.pipeline import (
        build_outputs,
        prepare_turns,
    )

    t = spark.createDataFrame(
        [("c1", 0, "Visit Date: 03/15/2024\nMEDICATIONS\nAspirin 81mg daily"),
         ("c1", 1, "ASSESSMENT\n- stable condition")],
        "conv_id string, turn_idx int, text string",
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01")))
    res = build_outputs(spark, prepare_turns(t), with_narrative=True)
    assert res.narrative is not None
    doc = res.narrative.first()["narrative"]
    assert doc.startswith("MEDICAL RECORD SUMMARY")
    assert "MEDICATIONS" in doc and "aspirin" in doc.lower()
    assert doc.endswith(rt.FOOTER)
