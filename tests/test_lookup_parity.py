"""The lookup rules (SURVEY F8-F11) at their Spark call sites, against
the pure-Python rules they run (rules.py, which mirror
reference/src/renderers/xml_renderer_v2.py:653-676 and
reference/src/services/variant_preservation.py:126-216).

Each call site runs its rule through operators.extract.rules_udf, so
what is checked here is the plumbing around the rule: nulls reaching
the rule as None, several columns zipped into one call, the result
typed as the call site declares it, and the XML the renderer wraps
around it.
"""

from functools import partial

from pyspark.sql import functions as F, types as T

import __spark_entry__ as entry
from medical_pdf__ocr_structured_ccd_ccda_output_spark import rules
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import (
    rules_udf,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.renderers import xml as rx

NAMES = [
    "John Smith",
    "Mary Jane Watson",
    "Cher",
    "  Anna   Maria   von   Habsburg  ",
    "",
    "   ",
    "a b",
    None,
]


def name_xml(name):
    """demographics_xml's <name> element, from rules.parse_name."""
    if name is None or not name.strip():
        return '<name nullFlavor="UNK"/>'
    p = rules.parse_name(name)
    given = f"<given>{p['given']}</given>" if p["given"] else ""
    family = f"<family>{p['family']}</family>" if p["family"] else ""
    return f"<name>{given}{family}</name>"


def test_parse_name_parity(spark):
    pats = spark.createDataFrame(
        [(str(i), None, n, None, None) for i, n in enumerate(NAMES)],
        "conv_id string, patient_id string, patient_name string, "
        "dob date, sex string",
    )
    got = {r["conv_id"]: r["record_target_xml"]
           for r in rx.demographics_xml(pats).collect()}
    for i, n in enumerate(NAMES):
        assert name_xml(n) in got[str(i)], repr(n)


CODE_TEXTS = [
    "patient reports polyuria and polydipsia for 2 weeks",
    "POLYDIPSIA noted",                      # case-insensitive
    "anxiety about hypoglycemia",            # first-match-wins: anxiety first
    "suspect diabetes insipidus",
    "nothing to see here",
    "glucose level 185",
    "24-hour urine volume collected",
    "glucose level 185",                     # a duplicate keeps its row
    None,
]


def entry_xml(text, code_map, system):
    """_coded_entry's <entry> element, from rules.find_code."""
    hit = rules.find_code(text, code_map)
    if hit is None:
        return ""
    return (f'<entry><observation><code code="{hit[0]}" '
            f'displayName="{hit[1]}" codeSystem="{system}"/>'
            f'</observation></entry>')


def _coded_entries(spark, code_map, system):
    df = spark.createDataFrame(list(enumerate(CODE_TEXTS)),
                               "id int, text string")
    out = df.select("id", rx._coded_entry(F.col("text"), code_map, system)
                    .alias("e"))
    rows = {r["id"]: r["e"] for r in out.collect()}
    assert len(rows) == len(CODE_TEXTS)
    for i, t in enumerate(CODE_TEXTS):
        assert rows[i] == entry_xml(t, code_map, system), t


def test_snomed_lookup_parity(spark):
    _coded_entries(spark, rules.SNOMED_CODES, rx.SNOMED_SYSTEM)


def test_loinc_lookup_parity(spark):
    _coded_entries(spark, rules.LOINC_CODES, rx.LOINC_SYSTEM)


def test_mark_unclear_parity(spark):
    cases = [("diabetes", 0.5), ("diabetes", 0.29), (None, 0.9), ("", 0.9),
             ("x", 0.3), ("x", None), (None, None)]
    df = spark.createDataFrame(cases, "guess string, conf double")
    mark = rules_udf(rules.mark_unclear, T.StringType())
    rows = df.select(
        "guess", "conf", mark(F.col("guess"), F.col("conf")).alias("m"),
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        assert r["m"] == rules.mark_unclear(r["guess"], r["conf"])
    # a missing confidence keeps the guess, as the SQL oracle's
    # three-valued `confidence < 0.3` does
    assert rules.mark_unclear("x", None) == "[UNCLEAR: x]"


DICTIONARY = ["polydipsia", "hypoglycaemia", "glucose", "haemoglobin",
              "anxiety", "esophagus", "polyuria"]

TERMS = [
    "polydypsia",     # known-variant hit AND close match -> dedup keeps order
    "hypoglycemia",   # known-variant + close match of the variant itself
    "glucose",        # in dictionary -> no close-match scan
    "glucos",         # typo -> close match only
    "oesophagus",     # known variant
    "zzzz",           # nothing
    None,
]


def test_variant_lookup_parity(spark):
    df = spark.createDataFrame(list(enumerate(TERMS)), "id int, term string")
    variants = rules_udf(partial(rules.term_variants, dictionary=DICTIONARY),
                         entry._VARIANTS)
    rows = {r["id"]: r["v"] for r in
            df.select("id", variants(F.col("term")).alias("v")).collect()}
    for i, t in enumerate(TERMS):
        exp = rules.term_variants(t, DICTIONARY)
        assert list(rows[i]["alternatives"]) == exp["alternatives"], t
        assert rows[i]["decision"] == exp["decision"], t
    assert rows[len(TERMS) - 1]["decision"] == "raw_preserved"
