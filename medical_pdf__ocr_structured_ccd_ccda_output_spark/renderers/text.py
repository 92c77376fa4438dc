"""Human-readable document rendering as column expressions (SURVEY S9).

Deterministic text-mode analog of the reference's human-readable
renderers (src/renderers/pdf_renderer.py:99-154 "Specialist Consult
Summary" and src/renderers/docx_renderer.py:28-78 "MEDICAL RECORD
SUMMARY"): title header, patient-info block, disclaimer, per-visit
clinical sections in the reference's render order
(docx_renderer.py:176-183 — reason, HPI, medications, vitals, problem
list, results, assessment, plan), and the data-quality notes page
(docx_renderer.py:335-360).  reportlab / python-docx are presentation
chrome; the narrative CONTENT is what the engine owes, so the document
is a plain-text string column built with the same fused one-groupBy
aggregation as the XML entity renderer — written like any other sink.

Determinism deltas vs the reference, by design: no wall-clock
"Generated:" stamp (the reference prints processed_at /
datetime.now()), and "Visits Processed" replaces the page-count row
(visits are this engine's unit of work).
"""

from __future__ import annotations

from ..functions.cleaning import strip_ws
from pyspark.sql import Column, DataFrame, functions as F

from .xml import _na

DISCLAIMER = (
    "IMPORTANT: This document was generated from OCR-processed scanned "
    "medical records. All information should be reviewed by qualified "
    "healthcare professionals. Do not use as the sole source of patient "
    "information for clinical decision-making. Always refer to original "
    "source documents for critical decisions."
)  # docx_renderer.py:110-119

FOOTER = (
    "Note: Human-readable CCD-style summary for upload/viewing. "
    "For standards-based exchange, use CCDA/CCD XML"
)  # pdf_renderer.py:291-295

_TITLE = "MEDICAL RECORD SUMMARY\n======================"


def _page_suffix() -> Column:
    return F.when(
        F.col("source_page").isNotNull(),
        F.format_string(" [Page %d]", F.col("source_page")),
    ).otherwise(F.lit(""))


def _medication_row() -> Column:
    # docx_renderer.py:201-228 medication table row -> one bullet
    return F.format_string(
        "• %s — Dose: %s, Frequency: %s, Route: %s [Page %s]",
        F.col("name"), _na(F.col("dose")), _na(F.col("frequency")),
        _na(F.col("route")), _na(F.col("source_page").cast("string")),
    )


def _vital_row() -> Column:
    # docx_renderer.py:230-263: name.replace('_',' ').title(), value, unit
    num = F.when(
        F.col("value") == F.floor("value"),
        F.col("value").cast("long").cast("string"),
    ).otherwise(F.col("value").cast("string"))
    return F.rtrim(F.format_string(
        "• %s: %s %s",
        F.initcap(F.replace(F.col("vital_name"), F.lit("_"), F.lit(" "))),
        num, F.coalesce(F.col("unit"), F.lit("")),
    ))


def _problem_row() -> Column:
    # docx_renderer.py:267-285 problem bullet with ICD-10 / status / page
    return F.concat(
        F.lit("• "), F.col("problem"),
        F.when(F.col("icd10_code").isNotNull(),
               F.concat(F.lit(" (ICD-10: "), F.col("icd10_code"), F.lit(")"))
               ).otherwise(F.lit("")),
        F.when(F.col("status").isNotNull(),
               F.concat(F.lit(" - "), F.col("status"))).otherwise(F.lit("")),
        _page_suffix(),
    )


def _result_row() -> Column:
    # docx_renderer.py:287-315 lab-result table row -> one bullet
    flag = F.when(
        F.col("abnormal_flag").isNull() | (F.col("abnormal_flag") == ""),
        F.lit("normal"),
    ).otherwise(F.col("abnormal_flag"))
    return F.format_string(
        "• %s: %s %s (ref: %s, %s) [Page %s]",
        F.col("test_name"), _na(F.col("value")), _na(F.col("unit")),
        _na(F.col("reference_range")), flag,
        _na(F.col("source_page").cast("string")),
    )


def _plan_row() -> Column:
    # docx_renderer.py:317-333 plan bullet with category / page
    return F.concat(
        F.lit("• "), F.col("action"),
        F.when(F.col("category").isNotNull(),
               F.concat(F.lit(" ("), F.col("category"), F.lit(")"))
               ).otherwise(F.lit("")),
        _page_suffix(),
    )


def narrative_sections(medications: DataFrame | None = None,
                       problems: DataFrame | None = None,
                       vitals: DataFrame | None = None,
                       results: DataFrame | None = None,
                       plan: DataFrame | None = None,
                       visit_texts: DataFrame | None = None) -> DataFrame:
    """(conv_id, visit_id, sections_text): per-visit clinical sections
    in the reference's DOCX render order (docx_renderer.py:176-183);
    absent sections are skipped like the reference's early returns.

    Same fused plan as xml.entity_sections: rows are rendered per kind
    BEFORE a union-with-kind-rank, so every section comes out of ONE
    groupBy (conv_id, visit_id) aggregation — one shuffle total."""
    kinds = []  # (rank, rows with rendered _row, (title, sep))
    mk = lambda df, rank, row: df.select(  # noqa: E731
        "conv_id", "visit_id",
        F.lit(rank).alias("_rank"),
        F.col("source_page").cast("int").alias("source_page"),
        F.col("source_line_in_turn").cast("int").alias("source_line_in_turn"),
        row.alias("_row"),
    )

    def text_kind(rank, field, title):
        rows = visit_texts.filter(F.col("field") == field).select(
            "conv_id", "visit_id", "source_page", "source_line_in_turn",
            F.col("text").alias("_t"),
        )
        kinds.append((rank, mk(rows, rank, F.col("_t")), (title, "\n")))

    if visit_texts is not None:
        text_kind(0, "reason_for_visit", "REASON FOR VISIT")
        text_kind(1, "history_of_present_illness",
                  "HISTORY OF PRESENT ILLNESS")
    if medications is not None:
        kinds.append((2, mk(medications, 2, _medication_row()),
                      ("MEDICATIONS", "\n")))
    if vitals is not None:
        kinds.append((3, mk(vitals.filter(F.col("value").isNotNull()), 3,
                            _vital_row()),
                      ("VITAL SIGNS", "\n")))
    if problems is not None:
        kinds.append((4, mk(problems, 4, _problem_row()),
                      ("PROBLEM LIST", "\n")))
    if results is not None:
        kinds.append((5, mk(results, 5, _result_row()),
                      ("LAB RESULTS", "\n")))
    if visit_texts is not None:
        text_kind(6, "assessment", "ASSESSMENT")
    if plan is not None:
        kinds.append((7, mk(plan, 7, _plan_row()), ("PLAN OF CARE", "\n")))
    if not kinds:
        raise ValueError("at least one entity DataFrame is required")

    union = kinds[0][1]
    for _, df, _spec in kinds[1:]:
        union = union.unionByName(df)
    agg = union.groupBy("conv_id", "visit_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("_rank", "source_page", "source_line_in_turn", "_row")
            )
        ).alias("_rows")
    )
    sections = []
    for rank, _df, (title, sep) in kinds:
        of_kind = F.filter(F.col("_rows"), lambda r: r["_rank"] == rank)
        body = F.array_join(F.transform(of_kind, lambda r: r["_row"]), sep)
        sections.append(
            F.when(F.size(of_kind) > 0,
                   F.concat(F.lit(title + "\n"), body))
        )
    return agg.select(
        "conv_id", "visit_id",
        F.concat_ws("\n\n", *sections).alias("sections_text"),
    )


def render_narrative(visits: DataFrame, sections: DataFrame | None = None,
                     patients: DataFrame | None = None) -> DataFrame:
    """visits = visit rollup (conv_id, visit_id, visit_date, confidence);
    optional `sections` = narrative_sections() output; optional
    `patients` (conv_id, patient_id, patient_name, dob, sex) fills the
    header + PATIENT DEMOGRAPHICS block (docx_renderer.py:126-148).
    Returns (conv_id, narrative) — one human-readable document string
    per conversation, visits in visit_id order with 1-based numbering
    (docx_renderer.py:150-154 "VISIT {n}: {date}")."""
    if sections is not None:
        visits = visits.join(sections, ["conv_id", "visit_id"], "left")
        body = F.when(
            F.col("sections_text").isNotNull() & (F.col("sections_text") != ""),
            F.concat(F.lit("\n\n"), F.col("sections_text")),
        ).otherwise(F.lit(""))
    else:
        body = F.lit("")
    visit_block = F.concat(
        F.lit(": "),
        F.coalesce(F.date_format(F.col("v.visit_date"), "yyyy-MM-dd"),
                   F.lit("Unknown Date")),
        F.lit("\nVisit ID: "), F.col("v.visit_id"),
        F.format_string("\nOCR Confidence: %.4f", F.col("v.confidence")),
        body,
    )
    per_conv = (
        visits.alias("v")
        .groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("v.visit_id"),
                                        visit_block.alias("b"),
                                        F.col("v.confidence").alias("c")))
            ).alias("_vb"),
            F.count("*").alias("_n_visits"),
        )
    )
    # the mean visit confidence folded in visit_id order: a double sum
    # in row order (F.avg) follows the partition layout
    confs = F.filter(F.transform(F.col("_vb"), lambda s: s["c"]),
                     lambda c: c.isNotNull())
    avg_conf = F.bround(
        F.when(F.size(confs) > 0,
               F.aggregate(confs, F.lit(0.0), lambda acc, c: acc + c)
               / F.size(confs)),
        4,
    )
    numbered = F.array_join(
        F.transform(
            F.col("_vb"),
            lambda s, i: F.concat(F.lit("VISIT "),
                                  (i + F.lit(1)).cast("string"), s["b"]),
        ),
        "\n\n",
    )
    if patients is not None:
        per_conv = per_conv.join(patients, "conv_id", "left")
        name = F.col("patient_name")
        pid = F.col("patient_id").cast("string")
        dob = F.date_format(F.col("dob"), "yyyy-MM-dd")
        sex = F.col("sex")
    else:
        name = pid = dob = sex = F.lit(None).cast("string")
    demo = F.concat_ws(
        "\n",
        F.when(name.isNotNull() & (strip_ws(name) != ""),
               F.concat(F.lit("Name: "), name)),
        F.when(pid.isNotNull(), F.concat(F.lit("Patient ID: "), pid)),
        F.when(dob.isNotNull(), F.concat(F.lit("Date of Birth: "), dob)),
        F.when(sex.isNotNull(), F.concat(F.lit("Sex: "), sex)),
    )
    demo_block = F.when(demo == "", F.lit("No patient demographics available")
                        ).otherwise(demo)
    doc = F.concat(
        F.lit(_TITLE + "\n\n"),
        F.lit("Patient: "), F.coalesce(name, F.lit("Unknown")),
        F.lit("\nDOB: "), F.coalesce(dob, F.lit("Unknown")),
        F.lit("\nSex: "), F.coalesce(sex, F.lit("Unknown")),
        F.lit("\nDocument Type: Mixed"
              "\nSource: OCR-processed medical record\n\n"),
        F.lit(DISCLAIMER + "\n\n"),
        F.lit("PATIENT DEMOGRAPHICS\n"), demo_block, F.lit("\n\n"),
        numbered,
        F.lit("\n\nDATA QUALITY NOTES\n"),
        F.format_string("OCR Confidence (Average): %.1f%%", avg_conf * 100),
        F.format_string("\nVisits Processed: %d", F.col("_n_visits")),
        F.lit("\n\n" + FOOTER),
    )
    return per_conv.select("conv_id", doc.alias("narrative"))
