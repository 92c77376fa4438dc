"""Vitals / allergies / plan extraction, quarantine, and entity-section
XML rendering — Spark output vs the pure-Python rule spec (rules.py §13
and §14), per the project's per-row parity strategy."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from medical_pdf__ocr_structured_ccd_ccda_output_spark import pipeline, rules
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import (
    dedup,
    entities,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import (
    extract_turns,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import (
    assign_visits,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.renderers import xml as rx

VITALS_TEXT = """Visit Date: 03/15/2024
VITAL SIGNS
BP: 142/88 mmHg
Blood Pressure: 118/76
Temp: 98.6 F
Temperature: 37.2 C
HR: 72 bpm
Pulse: 80
RR: 16 breaths/min
SpO2: 97 %
Weight: 82.5 kg
Height: 180 cm
BMI: 25.4
BP: 320/80
BP: 90/10 mmHg
BP: 120
Glucose: 101 mg/dL
random prose line
ALLERGIES:
- Penicillin
* Sulfa drugs
3. Latex
- NKDA
None

PLAN
1. Start metformin 500mg
- Refer to endocrinology
Follow up in 2 weeks
Order HbA1c
Discuss diet changes
Schedule colonoscopy
Reassess at next visit
"""


@pytest.fixture(scope="module")
def turns(spark):
    tr = spark.createDataFrame(
        [("c1", 1, "user", VITALS_TEXT, None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    return assign_visits(extract_turns(tr)).cache()


def _clean_lines():
    return rules.clean_text(VITALS_TEXT).split("\n")


def test_extract_vitals_matches_rule_spec(turns):
    got = sorted(
        (r["vital_name"], r["value"], r["systolic"], r["diastolic"],
         r["unit"], r["bp_valid"])
        for r in entities.extract_vitals(turns).collect()
    )
    want = []
    in_section = False
    for line in _clean_lines():
        if rules.match_section_header(line) is not None:
            in_section = rules.match_section_header(line) == "VITAL SIGNS"
            continue
        if not in_section:
            continue
        d = rules.parse_vital_line(line)
        if d:
            want.append((d["vital_name"], d["value"], d["systolic"],
                         d["diastolic"], d["unit"], d["bp_valid"]))
    assert got == sorted(want)
    # the out-of-range BPs are present and flagged invalid
    invalid = [g for g in got if g[0] == "blood_pressure" and not g[5]]
    assert len(invalid) == 2  # 320/80 systolic high, 90/10 diastolic low
    # unknown label (Glucose) and slashless BP are dropped
    assert all(g[0] in dict(rules.VITAL_LABEL_MAP).values() for g in got)


def test_extract_allergies_matches_rule_spec(turns):
    got = sorted(r["substance"]
                 for r in entities.extract_allergies(turns).collect())
    want = []
    in_section = False
    for line in _clean_lines():
        if rules.match_section_header(line) is not None:
            in_section = rules.match_section_header(line) == "ALLERGIES"
            continue
        if in_section:
            s = rules.parse_allergy_line(line)
            if s:
                want.append(s)
    assert got == sorted(want)
    assert "Penicillin" in got and "Latex" in got
    assert not any(rules.normalize_term(s) in rules.ALLERGY_NEGATIONS
                   for s in got)


def test_extract_plan_matches_rule_spec(turns):
    got = sorted((r["action"], r["category"])
                 for r in entities.extract_plan_items(turns).collect())
    want = []
    in_section = False
    for line in _clean_lines():
        if rules.match_section_header(line) is not None:
            in_section = rules.match_section_header(line) == "PLAN"
            continue
        if in_section:
            d = rules.parse_plan_line(line)
            if d:
                want.append((d["action"], d["category"]))
    assert got == sorted(want)
    cats = dict(got)
    assert cats["Start metformin 500mg"] == "medication"
    assert cats["Refer to endocrinology"] == "referral"
    assert cats["Follow up in 2 weeks"] == "followup"
    assert cats["Order HbA1c"] == "diagnostic"
    assert cats["Discuss diet changes"] == "lifestyle"
    assert cats["Schedule colonoscopy"] == "procedure"
    assert cats["Reassess at next visit"] == "other"


def test_allergy_plan_dedup_kinds(spark):
    """allergy/plan flow through both dedup tiers with merge_simple
    semantics (exact + fuzzy first-wins)."""
    recs = [
        ("c1", "visit_001", "Penicillin", 1, 1),
        ("c1", "visit_001", "penicillin  ", 2, 1),   # exact after normalize
        ("c1", "visit_001", "Latex", 3, 1),
    ]
    df = spark.createDataFrame(
        recs, "conv_id string, visit_id string, substance string, "
              "source_page int, source_line_in_turn int")
    ent, log = dedup.split_dedup_output(dedup.dedup_entities(df, "allergy"))
    rows = {r["substance"]: r for r in ent.collect()}
    assert set(rows) == {"Penicillin", "Latex"}
    assert rows["Penicillin"]["source_pages"] == [1, 2]
    assert rows["Penicillin"]["merge_confidence"] == 0.95
    logs = log.collect()
    assert len(logs) == 1 and logs[0]["reason"] == "exact_name_match"

    # python-side parity for the same records
    py_recs = [{"substance": s, "source_page": p}
               for _, _, s, p, _ in sorted(recs, key=lambda r: (r[3], r[4], r[2]))]
    merged, plog = rules.merge_simple(py_recs, "substance", [], type_name="allergy")
    assert sorted(m["substance"] for m in merged) == ["Latex", "Penicillin"]
    assert len(plog) == 1


def test_conversation_quarantine(spark):
    rows = [
        ("ok", 1, "hello world"),
        ("ok", 2, "more text"),
        ("empty", 1, "   "),
        ("empty", 2, ""),
        # NBSP/NEL-only page: Python .strip() removes these, Java \S
        # would not -> must quarantine as no_pages (PY_NONWS class)
        ("uws", 1, "\xa0 \x85"),
        ("enc", 1, "prefix [ENCRYPTED] body"),
    ]
    rows += [("long", i, "x") for i in range(1, rules.MAX_TURNS_PER_CONV + 2)]
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    quality = pipeline.conversation_quality(tr)
    got = {r["conv_id"]: r for r in quality.collect()}
    for cid, r in got.items():
        want = rules.conversation_warnings(
            r["n_turns"], r["total_chars"], r["n_nonempty"],
            "encrypted" in r["warnings"])
        assert list(r["warnings"]) == want, cid
    assert not got["ok"]["quarantined"]
    assert got["empty"]["warnings"] == ["no_pages"]
    assert got["uws"]["warnings"] == ["no_pages"]
    assert got["enc"]["warnings"] == ["encrypted"]
    assert got["long"]["warnings"] == ["too_many_pages"]

    clean, quar = pipeline.apply_quarantine(tr, quality)
    assert {r["conv_id"] for r in clean.select("conv_id").distinct().collect()} == {"ok"}
    assert quar.count() == 4


def test_entity_section_xml_golden(spark):
    probs = spark.createDataFrame(
        [("c1", "visit_001", "anxiety disorder", "F41.1", None, 2, 1),
         ("c1", "visit_001", "hypertension", None, None, 1, 1)],
        "conv_id string, visit_id string, problem string, icd10_code string, "
        "status string, source_page int, source_line_in_turn int")
    meds = spark.createDataFrame(
        [("c1", "visit_001", "Metformin", "500mg", "BID", None, 1, 2)],
        "conv_id string, visit_id string, name string, dose string, "
        "frequency string, route string, source_page int, source_line_in_turn int")
    res = spark.createDataFrame(
        [("c1", "visit_001", "glucose", "101", "mg/dL", None, None, 3, 1)],
        "conv_id string, visit_id string, test_name string, value string, "
        "unit string, reference_range string, abnormal_flag string, "
        "source_page int, source_line_in_turn int")
    secs = rx.entity_sections(medications=meds, problems=probs, results=res)
    xml = secs.first()["sections_xml"]
    # reference render order: problems, medications, results
    assert xml.index("11450-4") < xml.index("10160-0") < xml.index("30954-2")
    # document-order problem items (page 1 before page 2)
    assert xml.index("hypertension") < xml.index("anxiety disorder")
    # SNOMED coded entry for anxiety (xml_renderer_v2 code map)
    assert '<code code="48694002" displayName="Anxiety" ' \
           'codeSystem="2.16.840.1.113883.6.96"/>' in xml
    # LOINC coded entry for glucose
    assert '<code code="2345-7" displayName="Glucose" ' \
           'codeSystem="2.16.840.1.113883.6.1"/>' in xml
    # N/A fallbacks + flag fallback
    assert "<td>N/A</td>" in xml and "<td>normal</td>" in xml


def test_demographics_xml(spark):
    pats = spark.createDataFrame(
        [("c1", "77", "Jane Q Doe", "1980-05-04", "female"),
         ("c2", None, None, None, None)],
        "conv_id string, patient_id string, patient_name string, "
        "dob string, sex string",
    ).withColumn("dob", F.to_date("dob"))
    got = {r["conv_id"]: r["record_target_xml"]
           for r in rx.demographics_xml(pats).collect()}
    assert "<given>Jane Q</given><family>Doe</family>" in got["c1"]
    assert '<birthTime value="19800504"/>' in got["c1"]
    assert '<administrativeGenderCode code="F"' in got["c1"]
    assert '<id nullFlavor="UNK"/>' in got["c2"]
    assert '<name nullFlavor="UNK"/>' in got["c2"]
    assert '<administrativeGenderCode code="U"' in got["c2"]


def test_visit_schema_warnings_parity(spark, turns):
    from pyspark.sql import types as T

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import (
        rules_udf,
    )
    cases = [
        ("visit_001", 0.5, 3, "2.0"),
        ("v_bad", 0.5, 3, "2.0"),
        ("visit_001", 1.5, 3, "2.0"),
        ("visit_001", None, 0, "2.0"),
        ("visit_001", 0.5, 3, "1.0"),
        (None, -0.1, 0, "1.0"),
        ("visit_001", 0.5, None, None),
    ]
    df = spark.createDataFrame(
        cases, "visit_id string, confidence double, page_count int, ver string")
    warnings = rules_udf(rules.visit_warnings,
                         T.ArrayType(T.StringType(), False))
    out = df.select(
        "visit_id", "confidence", "page_count", "ver",
        warnings(F.col("visit_id"), F.col("confidence"),
                 F.col("page_count"), F.col("ver")).alias("w"),
    ).collect()
    assert len(out) == len(cases)
    for r in out:
        want = rules.visit_warnings(r["visit_id"], r["confidence"],
                                    r["page_count"], r["ver"])
        assert list(r["w"]) == want, (r["visit_id"], r["w"], want)
    # a missing page count or schema version cannot be compared
    assert rules.visit_warnings("visit_001", 0.5, None, None) == []

    # build_outputs' visit_spans carry the rule's warnings per visit
    visits = pipeline.build_outputs(
        spark, pipeline.TurnsStage(turns)).visit_spans.collect()
    assert visits
    for v in visits:
        assert list(v["schema_warnings"]) == rules.visit_warnings(
            v["visit_id"], v["confidence"], v["turn_count"])


def test_extract_visit_texts(turns):
    """Visit-level text fields from section bodies (reason/HPI/assessment)."""
    rows = entities.extract_visit_texts(turns).collect()
    by_field = {}
    for r in rows:
        by_field.setdefault(r["field"], []).append(r["text"])
    # VITALS_TEXT has no CHIEF COMPLAINT/HPI/ASSESSMENT sections
    assert by_field == {} or set(by_field) <= {
        "reason_for_visit", "history_of_present_illness", "assessment"}

    tr = spark_df = turns.sparkSession.createDataFrame(
        [("c9", 1, "user",
          "CHIEF COMPLAINT: polyuria\nHISTORY OF PRESENT ILLNESS:\n"
          "Three weeks of symptoms.\nWorse at night.\nASSESSMENT\n"
          "Likely DI.\nPLAN\nOrder labs", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    t2 = assign_visits(extract_turns(tr))
    fields = {r["field"]: r["text"]
              for r in entities.extract_visit_texts(t2).collect()}
    assert fields["history_of_present_illness"] == \
        "Three weeks of symptoms.\nWorse at night."
    assert fields["assessment"] == "Likely DI."
    # `HEADER: inline` form keeps the inline content as the body
    assert fields["reason_for_visit"] == "polyuria"

    secs = rx.entity_sections(visit_texts=entities.extract_visit_texts(t2))
    xml = secs.first()["sections_xml"]
    assert '<code code="10164-2"' in xml and "Three weeks" in xml
    assert '<code code="51848-0"' in xml and "Likely DI." in xml
    assert xml.index("10164-2") < xml.index("51848-0")


def test_encounter_type_inference(spark):
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import (
        encounter_type_expr,
    )
    texts = ["Discharge summary for patient", "seen in clinic today",
             "Telehealth visit with video", "ER visit last night",
             "plain note", "emergency admission"]  # emergency wins over admission
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    got = {r["i"]: r["e"]
           for r in df.select("i", encounter_type_expr(F.col("text")).alias("e")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == rules.infer_encounter_type(t), t
    assert got[5] == "emergency"


def test_visit_rollup_encounter_type(spark):
    tr = spark.createDataFrame(
        [("c1", 1, "user", "Visit Date: 01/02/2024\nplain text", None, None),
         ("c1", 2, "user", "Patient was admitted overnight.", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import (
        visit_rollup,
    )
    v = visit_rollup(assign_visits(extract_turns(tr))).first()
    assert v["encounter_type"] == "inpatient"


def test_data_quality_rollup(turns):
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.rollups import (
        data_quality_rollup,
    )
    dq = data_quality_rollup(turns).first()
    present = list(dq["present_sections"])
    # VITALS_TEXT contains VITAL SIGNS / ALLERGIES / PLAN sections
    assert {"VITAL SIGNS", "ALLERGIES", "PLAN"} <= set(present)
    assert present == sorted(set(present))
    assert abs(dq["completeness_score"]
               - len(present) / len(rules.EXPECTED_SECTIONS)) < 1e-12
    missing = list(dq["missing_critical_fields"])
    assert "MEDICATIONS" in missing and "ASSESSMENT" in missing
    assert "PLAN" not in missing and "ALLERGIES" not in missing
    assert dq["n_unclear_sections"] == 0
    assert 0.0 <= dq["confidence_score"] <= 1.0


def test_renderer_edge_cases(spark):
    """Reference renderer edge cases (test_full_pipeline.py:260-308):
    special characters, XML-reserved characters, empty entity sets, and
    long text all yield well-formed parseable XML."""
    import xml.etree.ElementTree as ET

    probs = spark.createDataFrame(
        [("c1", "visit_001", "BP ↑ 140/90 ± 5 & HbA1c ≥ 8%",
          None, None, 1, 1),
         ("c1", "visit_001", 'cough <severe> "wet"', None, None, 2, 1)],
        "conv_id string, visit_id string, problem string, icd10_code string, "
        "status string, source_page int, source_line_in_turn int")
    meds = spark.createDataFrame(
        [("c1", "visit_001", "Drug <A> & B", "x" * 5000, None, None, 1, 1),
         # XML-reserved chars in the _na-rendered cells (round-3 review
         # fix: dose/frequency/route previously rendered unescaped)
         ("c1", "visit_001", "Aspirin", "<81mg>", 'q"d"', "p&o", 2, 1)],
        "conv_id string, visit_id string, name string, dose string, "
        "frequency string, route string, source_page int, source_line_in_turn int")
    labs = spark.createDataFrame(
        # '<100' reference range — extremely common in real lab data and
        # previously produced an unclosed tag (malformed document)
        [("c1", "visit_001", "Glucose", "95", "mg/dL", "<100", "H&L", 3, 1)],
        "conv_id string, visit_id string, test_name string, value string, "
        "unit string, reference_range string, abnormal_flag string, "
        "source_page int, source_line_in_turn int")
    secs = rx.entity_sections(medications=meds, problems=probs, results=labs)
    visits = spark.createDataFrame(
        [("c1", "visit_001", None, "note & <text>", 0.72)],
        "conv_id string, visit_id string, visit_date date, raw_text string, "
        "confidence double")
    xml_str = rx.render_ccd_xml(visits, sections=secs).first()["ccd_xml"]
    root = ET.fromstring(xml_str)  # must parse despite &, <, >, ", unicode
    assert root.tag.endswith("ClinicalDocument")
    assert "↑" in xml_str and "&amp;" in xml_str and "&lt;severe&gt;" in xml_str
    assert "x" * 5000 in xml_str
    assert "&lt;81mg&gt;" in xml_str and "p&amp;o" in xml_str
    assert "&lt;100" in xml_str and "H&amp;L" in xml_str

    # empty entity DataFrames -> no entity sections, still well-formed
    empty = spark.createDataFrame(
        [], "conv_id string, visit_id string, problem string, "
            "icd10_code string, status string, source_page int, "
            "source_line_in_turn int")
    secs2 = rx.entity_sections(problems=empty)
    out2 = rx.render_ccd_xml(visits, sections=secs2).first()["ccd_xml"]
    ET.fromstring(out2)
    assert "11450-4" not in out2
