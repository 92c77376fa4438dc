"""Parity tests for functions/lookup.py (SURVEY F3, F8-F11)
against the pure-Python reference rules (rules.py), which mirror
reference/src/renderers/xml_renderer_v2.py:653-676 and
reference/src/services/variant_preservation.py:126-216.
"""

from pyspark.sql import functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark import rules
from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions import lookup

NAMES = [
    "John Smith",
    "Mary Jane Watson",
    "Cher",
    "  Anna   Maria   von   Habsburg  ",
    "",
    "   ",
    "a b",
]


def test_parse_name_parity(spark):
    df = spark.createDataFrame([(n,) for n in NAMES], ["full_name"])
    parsed = lookup.parse_name_expr(F.col("full_name"))
    rows = (
        df.select("full_name", parsed["given"].alias("g"), parsed["family"].alias("f"))
        .collect()
    )
    for r in rows:
        exp = rules.parse_name(r["full_name"])
        assert r["g"] == exp["given"], r["full_name"]
        assert r["f"] == exp["family"], r["full_name"]


CODE_TEXTS = [
    "patient reports polyuria and polydipsia for 2 weeks",
    "POLYDIPSIA noted",                      # case-insensitive
    "anxiety about hypoglycemia",            # first-match-wins: anxiety first
    "suspect diabetes insipidus",
    "nothing to see here",
    "glucose level 185",
    "24-hour urine volume collected",
]


def test_snomed_lookup_parity(spark):
    df = spark.createDataFrame([(t,) for t in CODE_TEXTS], ["text"])
    hit = lookup.code_lookup_expr(F.col("text"), rules.SNOMED_CODES)
    rows = df.select(
        "text", hit["code"].alias("code"), hit["display"].alias("display")
    ).collect()
    for r in rows:
        exp = rules.find_code(r["text"], rules.SNOMED_CODES)
        if exp is None:
            assert r["code"] is None, r["text"]
        else:
            assert (r["code"], r["display"]) == exp, r["text"]


def test_loinc_lookup_join_parity(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CODE_TEXTS)], ["id", "text"]
    )
    out = lookup.code_lookup_join(df, "text", rules.LOINC_CODES, out_col="hit")
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == len(CODE_TEXTS)  # multiplicity preserved
    for i, t in enumerate(CODE_TEXTS):
        exp = rules.find_code(t, rules.LOINC_CODES)
        got = rows[i]["hit"]
        if exp is None:
            assert got is None, t
        else:
            assert (got["code"], got["display"]) == exp, t


def test_mark_unclear_parity(spark):
    cases = [("diabetes", 0.5), ("diabetes", 0.29), (None, 0.9), ("", 0.9),
             ("x", 0.3)]
    df = spark.createDataFrame(cases, ["guess", "conf"])
    rows = df.select(
        "guess", "conf",
        lookup.mark_unclear_expr(F.col("guess"), F.col("conf")).alias("m"),
    ).collect()
    for r in rows:
        assert r["m"] == rules.mark_unclear(r["guess"], r["conf"])


DICTIONARY = ["polydipsia", "hypoglycaemia", "glucose", "haemoglobin",
              "anxiety", "esophagus", "polyuria"]

TERMS = [
    "polydypsia",     # known-variant hit AND close match -> dedup keeps order
    "hypoglycemia",   # known-variant + close match of the variant itself
    "glucose",        # in dictionary -> no close-match scan
    "glucos",         # typo -> close match only
    "oesophagus",     # known variant
    "zzzz",           # nothing
]


def test_variant_lookup_parity(spark):
    df = spark.createDataFrame([(t,) for t in TERMS], ["term"])
    out = lookup.variant_lookup(df, "term", dictionary=DICTIONARY)
    rows = {r["term"]: r for r in out.collect()}
    for t in TERMS:
        exp = rules.term_variants(t, DICTIONARY)
        assert list(rows[t]["alternatives"]) == exp["alternatives"], t
        assert rows[t]["decision"] == exp["decision"], t


def test_similarity_udf_parity(spark):
    pairs = [
        ("Hypertension", "HTN"),
        ("Type 2 Diabetes", "Type 2 Diabetes Mellitus"),
        ("aspirin", "Aspirin"),
        ("", "x"),
        ("metformin 500mg", "metformin 500 mg"),
    ]
    df = spark.createDataFrame(pairs, ["a", "b"])
    ratio = lookup.similarity_udf()
    rows = df.select("a", "b", ratio(F.col("a"), F.col("b")).alias("r")).collect()
    for r in rows:
        assert r["r"] == rules.similarity(r["a"], r["b"]), (r["a"], r["b"])
