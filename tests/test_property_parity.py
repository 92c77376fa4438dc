"""Property-based (hypothesis) parity: the Spark operators must agree
with the pure-Python rule spec (`rules.py`) on ADVERSARIAL generated
text, not just the curated fixtures — the per-turn equality bench.py
measures over the corpus, pushed into the weird corners of the input
space.  extract_turns is checked row by row against
reference_oracle.extract_turn; the column-expression operators
(encounter type, entities, lookups, ...) against their rules.py
functions.

Each hypothesis example is a BATCH of strings run through one Spark
job (per-example jobs would be pathologically slow), so shrinking
still isolates a single offending string."""

import string

from hypothesis import HealthCheck, example, given, settings, strategies as st

from medical_pdf__ocr_structured_ccd_ccda_output_spark import reference_oracle, rules

# alphabet biased toward the rule grammar's trigger characters:
# whitespace runs, page-banner/pipe/table chars, UNCLEAR markers,
# ambiguous OCR chars, dates, section headers, unicode
_FRAGMENTS = st.sampled_from([
    "[UNCLEAR: xy]", "[UNCLEAR", "Page 3 of 9", "|", "      ",
    "Visit Date: 03/15/2024", "DOB: 1/2/99", "MEDICATIONS", "PLAN",
    "HTN DM2 BID", "l1lI O0O", "~~~", "(?)", "\n\n\n", "\t",
    "café ñ 中文 ↑ ±", "signature illegible", "\r\n", "  -  ",
])
_RAW = st.text(
    # \x0b\x0c\x1c\x85\xa0 : Python-whitespace chars that Java \s /
    # RE2 \s treat differently — the PY_WS parity surface (round 3)
    alphabet=string.ascii_letters + string.digits + string.punctuation
    + " \t\n\r\x0b\x0c\x1c\x85\xa0 " + "éñ↑±中",
    max_size=80,
)
_DOC = st.lists(st.one_of(_RAW, _FRAGMENTS), min_size=0, max_size=12).map(
    " ".join
)


def _extracted(spark, docs):
    """extract_turns over docs, one row per doc in docs' order, each in
    the oracle's plain-Python form (the date as an ISO string)."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import (
        extract_turns,
    )

    df = spark.createDataFrame(list(enumerate(docs)), "turn_idx int, text string")
    rows = []
    for r in extract_turns(df).orderBy("turn_idx").collect():
        d = r.asDict(recursive=True)
        del d["turn_idx"]
        if d["extracted_date"] is not None:
            d["extracted_date"] = d["extracted_date"].isoformat()
        rows.append(d)
    return rows


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_DOC, min_size=16, max_size=16))
@example(
    # regression: 'O:P"ñ' must NOT count as an uppercase abbreviation —
    # an ASCII-only [^a-z] class let the cased-lowercase ñ through,
    # tipping abbrevs to 6 and diverging confidence by 0.05.
    docs=['signature illegible O:P"ñ \r\n        VG±\rCH5Jj( [UNCLEAR .M '
          'HTN DM2 BID  (?) 2w5@=C]\n\rQW|#c\n       '] + [""] * 15,
)
@example(
    # regression (round-3 engine_portable): boilerplate lines indented/
    # padded with NBSP / VT / NEL must still be dropped, NBSP-padded
    # line ends trimmed, and an all-unicode-whitespace result must hit
    # the empty marker — Python \s is unicode-aware, Java's is not.
    docs=["\xa0======\nreal content\x0b\x85\nPAGE 3\x0b\n",
          "\xa0 \x85\x1c\x0b", "line\xa0\nkeep me\x1c\x1d\x1e\x1f"]
    + [""] * 13,
)
def test_extractor_parity_on_generated_text(docs):
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
        get_spark,
    )

    spark = get_spark("prop", shuffle_partitions=4)
    for doc, row in zip(docs, _extracted(spark, docs), strict=True):
        assert row == reference_oracle.extract_turn(doc), repr(doc)


# ---------------------------------------------------------------------------
# Omnibus: date / boundary / layout / sections / uncertain tokens /
# review flags+reasons through extract_turns, and the encounter type
# column expression, against rules.py.
# ---------------------------------------------------------------------------

# line-shaped fragments biased toward every rule family's triggers:
# the three date patterns (valid, invalid-month, century-pivot, year<1000),
# boundary phrases, section headers (spaced / nospace / extra, with and
# without trailing text), encounter keywords, and all three token passes
_LINES = st.sampled_from([
    "Visit Date: 03/15/2024", "2024-3-5", "1/2/99", "13/45/2024",
    "00/10/24", "05/06/0007", "0500/1/2", "12-31-49 follow up",
    # year-0: Python strptime raises (falls through); Spark/DuckDB are
    # proleptic and must guard explicitly.  \r boundary: Java (?m)^
    # fires after bare \r without (?d), Python/RE2 only after \n
    "1/2/0000", "0000-10-05 then 1/2/99", "note\rVisit Date: 1/2/24",
    "Date of Service: 04/01/2024", "encounter date: soon",
    "Admission Date:", "discharge date: 1/1/11",
    "MEDICATIONS", "ASSESSMENT:", "HPI: chest pain",
    "PastMedicalHistory:", "PHYSICAL EXAM: normal", "VITAL SIGNS",
    "  ALLERGIES:", "ReviewOfSystems:", "IMPRESSION  :",
    "MEDICATIONS: lisinopril", "plan", "Plan:",
    "ER visit for MS", "telehealth", "admitted to ward",
    "clinic follow-up", "Emergency dept",
    "MS", " RA on exam", "BS present", "(?)", "possibly benign",
    "[UNCLEAR: foo]", "[UNCLEAR xyz", "~~~ smudged",
    "|col|col|", "      padded", "", "   ",
])
_DOC_LINES = st.lists(st.one_of(_RAW, _LINES), min_size=0, max_size=10).map(
    "\n".join
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_DOC_LINES, min_size=12, max_size=12))
@example(
    # round-3 engine_portable pins: NBSP-indented section headers must
    # match (sections + the omnibus rule surface run on the same text),
    # and a VT/NEL-padded vitals line must still parse upstream
    docs=["\xa0MEDICATIONS:\nmetformin 10mg",
          "\x0bASSESSMENT:\x85\n- stable",
          "VITAL SIGNS\nBP:\xa0120/80 mmHg",
          "\xa0\x0bVisit Date: 03/15/2024"]
    + [""] * 8,
)
def test_rule_surface_parity_on_generated_text(docs):
    from pyspark.sql import functions as F

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import (
        encounter_type_expr,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
        get_spark,
    )

    spark = get_spark("prop", shuffle_partitions=4)
    for doc, row in zip(docs, _extracted(spark, docs), strict=True):
        assert row == reference_oracle.extract_turn(doc), repr(doc)
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    got = df.select(encounter_type_expr(F.col("text")).alias("enc")).collect()
    for doc, row in zip(docs, got, strict=True):
        assert row["enc"] == rules.infer_encounter_type(doc), repr(doc)


# ---------------------------------------------------------------------------
# Scalar expressions: parse_name / mark_unclear / code lookup /
# visit warnings / F12 sanitize — one row per generated tuple, one
# Spark job per example.
# ---------------------------------------------------------------------------

# \xa0/ /\x85/\x1c: Python str.strip()/.split() treat these as
# whitespace; the Spark exprs must too (PY_WS class, round-3 fix)
_NAMES = st.one_of(st.none(), st.text(
    alphabet=string.ascii_letters + " .,'-\t\n\x0b\xa0 \x85\x1c", max_size=24
))
_GUESS = st.one_of(
    st.none(), st.sampled_from(["", "  ", "metformin", "x"]),
    st.text(alphabet=string.ascii_letters + " ", max_size=10),
)
_CONF = st.one_of(
    st.none(),
    st.sampled_from([0.0, 0.15, 0.29, 0.3, 0.31, 0.75, 1.0]),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
_CODE_TEXT = st.one_of(
    st.none(),
    _RAW,
    st.sampled_from([
        "glucose high", "Polyuria noted", "diabetes insipidus workup",
        "urine specific gravity 1.01", "anxiety about BS",
        "24-hour urine volume", "hypoglycemia episode", "no codes here",
    ]),
)
# file base names: never '/', and '.'/'..' excluded (pathlib collapses
# them to a different component than a plain last-segment split — file
# NAMES, which this rule takes, are never '.' or '..')
_BASE = st.text(
    alphabet=string.ascii_letters + string.digits + " ().", max_size=12
).filter(lambda s: s not in ("", ".", ".."))
_PATH = st.builds(
    lambda dirs, base: "/".join(dirs + [base]),
    st.lists(st.sampled_from(["data", "in", "tmp"]), max_size=2),
    _BASE,
)
_VISIT_ID = st.one_of(
    st.none(), st.sampled_from(["visit_1", "visit_", "Visit_2", "", "x"]))
_VCONF = st.one_of(
    st.none(),
    st.floats(min_value=-1.0, max_value=2.0, allow_nan=False),
    st.sampled_from([0.0, 1.0, -0.0, 1.0000000000000002]),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.tuples(_NAMES, _GUESS, _CONF, _CODE_TEXT, _PATH, _VISIT_ID, _VCONF,
              st.one_of(st.none(), st.integers(min_value=-1, max_value=3)),
              st.sampled_from(["2.0", "1.0", "", None])),
    min_size=12, max_size=12,
))
def test_scalar_expr_parity(tuples):
    from pathlib import PurePosixPath

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StringType, StructField,
        StructType,
    )

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.cleaning import (
        sanitize_base_name_expr,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import (
        rules_udf,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.renderers import (
        xml as rx,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
        get_spark,
    )
    from tests.test_lookup_parity import entry_xml, name_xml

    spark = get_spark("prop", shuffle_partitions=4)
    schema = StructType([
        StructField("name", StringType()), StructField("guess", StringType()),
        StructField("conf", DoubleType()), StructField("ctext", StringType()),
        StructField("path", StringType()), StructField("vid", StringType()),
        StructField("vconf", DoubleType()), StructField("pages", IntegerType()),
        StructField("ver", StringType()),
    ])
    df = spark.createDataFrame(list(tuples), schema)
    mark = rules_udf(rules.mark_unclear, StringType())
    warnings = rules_udf(rules.visit_warnings, ArrayType(StringType(), False))
    got = df.select(
        mark(F.col("guess"), F.col("conf")).alias("marked"),
        rx._coded_entry(F.col("ctext"), rules.SNOMED_CODES,
                        rx.SNOMED_SYSTEM).alias("snomed"),
        rx._coded_entry(F.col("ctext"), rules.LOINC_CODES,
                        rx.LOINC_SYSTEM).alias("loinc"),
        sanitize_base_name_expr(F.col("path")).alias("base"),
        warnings(
            F.col("vid"), F.col("vconf"), F.col("pages"), F.col("ver")
        ).alias("warns"),
    ).collect()
    pats = df.select(
        F.lit("c").alias("conv_id"), F.lit(None).cast("string").alias("patient_id"),
        F.col("name").alias("patient_name"), F.lit(None).cast("date").alias("dob"),
        F.lit(None).cast("string").alias("sex"),
    )
    names = rx.demographics_xml(pats).collect()
    for (name, guess, conf, ctext, path, vid, vconf, pages, ver), row, nrow in zip(
        tuples, got, names, strict=True
    ):
        d = row.asDict(recursive=True)
        assert name_xml(name) in nrow["record_target_xml"], repr(name)
        assert d["marked"] == rules.mark_unclear(guess, conf), (guess, conf)
        for col, cmap, system in (
                ("snomed", rules.SNOMED_CODES, rx.SNOMED_SYSTEM),
                ("loinc", rules.LOINC_CODES, rx.LOINC_SYSTEM)):
            assert d[col] == entry_xml(ctext, cmap, system), repr(ctext)
        want_base = (
            PurePosixPath(path).stem
            .replace(" ", "_").replace("(", "").replace(")", "")
        )
        assert d["base"] == want_base, repr(path)
        assert d["warns"] == rules.visit_warnings(vid, vconf, pages, ver), \
            (vid, vconf, pages, ver)


# ---------------------------------------------------------------------------
# Entity extraction end-to-end: rules.extract_sections -> extract_vitals /
# extract_allergies / extract_plan_items vs the Python composition
# extract_sections + parse_vital_line / parse_allergy_line /
# parse_plan_line over the same generated documents.
# ---------------------------------------------------------------------------

_ENTITY_LINES = st.sampled_from([
    "VITAL SIGNS", "ALLERGIES:", "PLAN", "MEDICATIONS",   # headers
    "BP: 120/80", "bp 300/200 mmHg", "Temp: 98.6 F", "HR= 72 bpm",
    "Weight 180 lbs  stable", "SpO2: 98 %", "O2 Sat: 95",
    "RR 16 breaths/min", "BMI: 27.5", "Pulse: 999/1", "Ht 170 cm",
    "blood  pressure: 40/20", "BP: 120", "Temperature: 98/6",
    "xyzzy: 5", "BP : 39/19", "bp=301/200",
    "- Penicillin", "* NKDA", "2) sulfa drugs", "• none",
    "No Known  Allergies", "  peanuts  ", "- ",
    "- Start metformin", "1. Refer to endo", "order CBC",
    "Follow up in 2 weeks", "exercise daily and diet", "schedule MRI",
    "continue lisinopril", "random note", "Prescribe statin",
])
_ENTITY_DOC = st.lists(
    st.one_of(_RAW, _ENTITY_LINES), min_size=0, max_size=12
).map("\n".join)


def _py_entities(doc):
    vit, alg, plan = [], [], []
    for span in rules.extract_sections(doc):
        lines = span["text"].split("\n")
        for off, line in enumerate(lines[1:], start=1):
            n = span["start_line"] + off
            if span["section"] == "VITAL SIGNS":
                v = rules.parse_vital_line(line)
                if v is not None:
                    vit.append((n, v["vital_name"], v["value"], v["systolic"],
                                v["diastolic"], v["unit"], v["bp_valid"]))
            elif span["section"] == "ALLERGIES":
                a = rules.parse_allergy_line(line)
                if a is not None:
                    alg.append((n, a))
            elif span["section"] == "PLAN":
                p = rules.parse_plan_line(line)
                if p is not None:
                    plan.append((n, p["action"], p["category"]))
    return sorted(vit), sorted(alg), sorted(plan)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_ENTITY_DOC, min_size=8, max_size=8))
def test_entity_extraction_parity_on_generated_text(docs):
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.entities import (
        extract_allergies,
        extract_plan_items,
        extract_vitals,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
        get_spark,
    )

    spark = get_spark("prop", shuffle_partitions=4)
    # two null rows: a turn without sections and a section without text
    null_rows = [
        ("cn", "visit_1", len(docs), None),
        ("cn", "visit_1", len(docs) + 1,
         [{"section": "PLAN", "start_line": 1, "end_line": 1, "text": None}]),
    ]
    turns = spark.createDataFrame(
        [(f"c{i}", "visit_1", i, rules.extract_sections(d))
         for i, d in enumerate(docs)] + null_rows,
        "conv_id string, visit_id string, turn_idx int, sections array<"
        "struct<section:string, start_line:int, end_line:int, text:string>>",
    )

    vit = extract_vitals(turns).collect()
    alg = extract_allergies(turns).collect()
    plan = extract_plan_items(turns).collect()

    got = {i: ([], [], []) for i in range(len(docs) + len(null_rows))}
    for r in vit:
        got[r["source_page"]][0].append(
            (r["source_line_in_turn"], r["vital_name"], r["value"],
             r["systolic"], r["diastolic"], r["unit"], r["bp_valid"]))
    for r in alg:
        got[r["source_page"]][1].append(
            (r["source_line_in_turn"], r["substance"]))
    for r in plan:
        got[r["source_page"]][2].append(
            (r["source_line_in_turn"], r["action"], r["category"]))

    for i, doc in enumerate(docs):
        want = _py_entities(doc)
        have = tuple(sorted(x) for x in got[i])
        assert have == want, repr(doc)
    assert all(got[i] == ([], [], []) for i in range(len(docs), len(got)))


# ---------------------------------------------------------------------------
# Excerpt enrichment: the equi-join + min-by first-hit operator vs the
# reference's per-entity line scan (rules.find_excerpt).
# ---------------------------------------------------------------------------

_EXCERPT_LINE = st.text(
    alphabet=string.ascii_letters + string.digits + " .,:|[]()-\x0b\xa0 ",
    max_size=90,
)


@st.composite
def _excerpt_case(draw):
    lines = draw(st.lists(_EXCERPT_LINE, min_size=0, max_size=8))
    needles = []
    for _ in range(draw(st.integers(min_value=1, max_value=5))):
        kind = draw(st.integers(min_value=0, max_value=4))
        if kind == 0 and any(len(l) >= 3 for l in lines):
            src = draw(st.sampled_from([l for l in lines if len(l) >= 3]))
            a = draw(st.integers(min_value=0, max_value=len(src) - 1))
            b = draw(st.integers(min_value=a + 1, max_value=len(src)))
            sub = src[a:b]
            needles.append(sub.swapcase() if draw(st.booleans()) else sub)
        elif kind == 1:
            needles.append(draw(st.sampled_from(["", "N/A", "null"])))
        elif kind == 2:
            needles.append(None)
        else:
            needles.append(draw(st.text(
                alphabet=string.ascii_letters + " ", max_size=12)))
    return lines, needles


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_excerpt_case(), min_size=4, max_size=4))
def test_excerpt_enrichment_parity(cases):
    from pyspark.sql import functions as F  # noqa: F401  (session warm)

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.excerpts import (
        enrich_excerpts,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
        get_spark,
    )

    spark = get_spark("prop", shuffle_partitions=4)
    line_rows, ent_rows = [], []
    for ci, (lines, needles) in enumerate(cases):
        conv = f"c{ci}"
        line_rows += [(conv, n + 1, l) for n, l in enumerate(lines)]
        ent_rows += [(conv, i, t) for i, t in enumerate(needles)]
    lines_df = spark.createDataFrame(
        line_rows or [("c_none", 1, "x")],
        "conv_id string, line_no int, line string",
    )
    ents_df = spark.createDataFrame(
        ent_rows, "conv_id string, ent_idx int, term string")

    got = {
        (r["conv_id"], r["ent_idx"]): (r["source_line"], r["source_excerpt"])
        for r in enrich_excerpts(ents_df, lines_df, "term").collect()
    }
    assert len(got) == len(ent_rows)  # multiplicity preserved
    for ci, (lines, needles) in enumerate(cases):
        for i, t in enumerate(needles):
            want = rules.find_excerpt(lines, t) if t is not None else {}
            assert got[(f"c{ci}", i)] == (
                want.get("source_line"), want.get("source_excerpt")
            ), (t, lines)


# ---------------------------------------------------------------------------
# Dedup plumbing: the bucketed applyInPandas operator must reproduce
# rules.merge_medications over every (conv, visit) group in document
# order — entity rows AND decision-log rows (Arrow/pandas null handling,
# bucket grouping, and the stable document-order sort are under test;
# the greedy semantics themselves are the shared rules.py code).
# ---------------------------------------------------------------------------

_MED_NAMES = st.sampled_from([
    "metformin", "Metformin", "metformin ", "metforminn", "metfornin",
    "lisinopril", "lisinoprill", "aspirin", "asp irin", "atorvastatin",
])
_MED_REC = st.tuples(
    _MED_NAMES,
    st.one_of(st.none(), st.sampled_from(["500mg", "10mg", "81mg"])),
    st.one_of(st.none(), st.sampled_from(["BID", "QD"])),
    st.integers(min_value=1, max_value=3),   # source_page
    st.integers(min_value=1, max_value=6),   # source_line_in_turn
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.dictionaries(
    st.tuples(st.sampled_from(["c0", "c1"]), st.sampled_from(["v1", "v2"])),
    st.lists(_MED_REC, min_size=1, max_size=8),
    min_size=1, max_size=4,
))
def test_dedup_operator_matches_rules_merge(groups):
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.dedup import (
        dedup_entities,
        split_dedup_output,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
        get_spark,
    )

    spark = get_spark("prop", shuffle_partitions=4)
    rows = []
    for (conv, visit), recs in groups.items():
        for name, dose, freq, page, line in recs:
            rows.append((conv, visit, name, dose, freq, None, page, line))
    df = spark.createDataFrame(
        rows,
        "conv_id string, visit_id string, name string, dose string, "
        "frequency string, route string, source_page int, "
        "source_line_in_turn int",
    )
    ent_df, log_df = split_dedup_output(
        dedup_entities(df, "medication", buckets=3))
    got_ent, got_log = {}, {}
    for r in ent_df.collect():
        got_ent.setdefault((r["conv_id"], r["visit_id"]), []).append(r)
    for r in log_df.collect():
        got_log.setdefault((r["conv_id"], r["visit_id"]), []).append(r)

    import json as _json
    for (conv, visit), recs in groups.items():
        records = sorted(
            [{"conv_id": conv, "visit_id": visit, "name": n, "dose": d,
              "frequency": f, "route": None, "source_page": p,
              "source_line_in_turn": l}
             for n, d, f, p, l in recs],
            key=lambda r: (r["source_page"], r["source_line_in_turn"],
                           r["name"]),
        )
        merged, log = rules.merge_medications(records)
        want_ent = [
            (m.get("name"), m.get("dose"), m.get("frequency"),
             m.get("route"), tuple(m.get("source_pages", [])),
             m.get("source_line_in_turn"), m.get("merge_confidence"),
             tuple(m["alternative_representations"])
             if m.get("alternative_representations") else None,
             _json.dumps(m["value_conflicts"])
             if m.get("value_conflicts") else None)
            for m in merged
        ]
        have_ent = [
            (r["name"], r["dose"], r["frequency"], r["route"],
             tuple(r["source_pages"]), r["source_line_in_turn"],
             r["merge_confidence"],
             tuple(r["alternative_representations"])
             if r["alternative_representations"] else None,
             r["value_conflicts_json"])
            for r in got_ent.get((conv, visit), [])
        ]
        assert sorted(have_ent) == sorted(want_ent), (conv, visit, recs)
        want_log = sorted(
            (e["action"], e["reason"], e["item1"], e["item2"],
             e["similarity"], e["threshold"],
             tuple(p for p in e["source_pages"] if p is not None))
            for e in log
        )
        have_log = sorted(
            (r["action"], r["reason"], r["item1"], r["item2"],
             r["similarity"], r["threshold"],
             tuple(r["source_pages"]))
            for r in got_log.get((conv, visit), [])
        )
        assert have_log == want_log, (conv, visit, recs)
