"""CCD/CCDA XML rendering as column expressions (SURVEY S8).

Deterministic analog of the reference's rule-based renderer
(src/renderers/xml_renderer.py:34-69): a ClinicalDocument header plus a
structuredBody with one component per visit.  Built entirely with
concat/format_string over the visit rollup — the XML is a string
column, written like any other sink.  No document id from wall-clock
(the reference stamps datetime.now(); we use conv_id for determinism).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .. import rules
from ..operators.extract import rules_udf

HL7_NAMESPACE = "urn:hl7-org:v3"
ROOT_OID = "2.16.840.1.113883.1.3"
LOINC_SYSTEM = "2.16.840.1.113883.6.1"
SNOMED_SYSTEM = "2.16.840.1.113883.6.96"
GENDER_CODE_SYSTEM = "2.16.840.1.113883.5.1"
PATIENT_ID_ROOT = "2.16.840.1.113883.3.1"

# rules.find_code's (code, display) and rules.parse_name's dict
CODE = T.StructType([T.StructField("code", T.StringType()),
                      T.StructField("display", T.StringType())])
NAME = T.StructType([T.StructField("given", T.StringType()),
                     T.StructField("family", T.StringType())])


def xml_escape(col: Column) -> Column:
    col = F.replace(col, F.lit("&"), F.lit("&amp;"))
    col = F.replace(col, F.lit("<"), F.lit("&lt;"))
    col = F.replace(col, F.lit(">"), F.lit("&gt;"))
    col = F.replace(col, F.lit('"'), F.lit("&quot;"))
    return col


def _visit_component(with_sections: bool = False) -> Column:
    date_attr = F.coalesce(
        F.date_format(F.col("v.visit_date"), "yyyyMMdd"), F.lit("UNK")
    )
    # entity sections (problem list / medications / vitals / results /
    # plan) nest inside the visit section like the reference's
    # _add_visit_section children (xml_renderer.py:205-212)
    sections = (
        F.when(
            F.col("sections_xml").isNotNull() & (F.col("sections_xml") != ""),
            F.concat(F.lit("\n"), F.col("sections_xml")),
        ).otherwise(F.lit(""))
        if with_sections else F.lit("")
    )
    return F.format_string(
        '    <component>\n'
        '      <section>\n'
        '        <id extension="%s"/>\n'
        '        <effectiveTime value="%s"/>\n'
        '        <title>Visit %s</title>\n'
        '        <text mediaType="text/plain">%s</text>\n'
        '        <entry><observation><value unit="confidence">%.4f</value></observation></entry>%s\n'
        '      </section>\n'
        '    </component>',
        F.col("v.visit_id"),
        date_attr,
        F.col("v.visit_id"),
        xml_escape(F.col("v.raw_text")),
        F.col("v.confidence"),
        sections,
    )


def render_ccd_xml(visits: DataFrame, sections: DataFrame | None = None,
                   patients: DataFrame | None = None) -> DataFrame:
    """visits = visit_rollup output (must include raw_text).
    Optional `sections` = entity_sections() output joined per visit;
    optional `patients` (conv_id, patient_id, patient_name, dob, sex)
    renders a real recordTarget instead of the UNK stub.
    Returns (conv_id, ccd_xml)."""
    if sections is not None:
        visits = visits.join(sections, ["conv_id", "visit_id"], "left")
    comp = _visit_component(with_sections=sections is not None)
    per_conv = (
        visits.alias("v")
        .groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("v.visit_id"), comp.alias("xml")))
                    ),
                    lambda s: s["xml"],
                ),
                "\n",
            ).alias("_components"),
        )
    )
    if patients is not None:
        per_conv = per_conv.join(demographics_xml(patients), "conv_id", "left")
        record_target = F.coalesce(
            F.col("record_target_xml"),
            F.lit('<recordTarget><patientRole><id nullFlavor="UNK"/>'
                  '<patient><name nullFlavor="UNK"/></patient>'
                  '</patientRole></recordTarget>'),
        )
    else:
        record_target = F.lit(
            '<recordTarget><patientRole><id nullFlavor="UNK"/>'
            '<patient><name nullFlavor="UNK"/></patient>'
            '</patientRole></recordTarget>'
        )
    header = F.format_string(
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<ClinicalDocument xmlns="%s">\n'
        '  <realmCode code="US"/>\n'
        '  <typeId root="%s" extension="POCD_HD000040"/>\n'
        '  <id root="2.16.840.1.113883.19" extension="doc_%s"/>\n'
        '  <title>Medical Record Summary (OCR-Processed)</title>\n'
        '  <confidentialityCode code="N" codeSystem="2.16.840.1.113883.5.25"/>\n'
        '  %s\n'
        '  <component><structuredBody>\n'
        '%s\n'
        '  </structuredBody></component>\n'
        '</ClinicalDocument>',
        F.lit(HL7_NAMESPACE),
        F.lit(ROOT_OID),
        F.col("conv_id"),
        record_target,
        F.col("_components"),
    )
    return per_conv.select("conv_id", header.alias("ccd_xml"))


# ---------------------------------------------------------------------------
# Per-entity CCDA sections (xml_renderer.py:205-453 parity: per-visit
# problem list / medications / vital signs / results / plan components,
# coded entries per xml_renderer_v2.py:664-676)
# ---------------------------------------------------------------------------


def _na(col: Column) -> Column:
    """'' / null -> N/A table-cell fallback (xml_renderer.py `or \"N/A\"`).
    The value branch is xml-escaped: the reference renders via
    ElementTree SubElement/tostring, which escapes every text node —
    a lab reference_range like '<100' must become '&lt;100'."""
    return F.when(col.isNull() | (col == ""), F.lit("N/A")).otherwise(xml_escape(col))


def _section_xml(code: str, display: str, title: str, body: Column) -> Column:
    return F.format_string(
        '      <component>\n'
        '        <section>\n'
        '          <code code="%s" codeSystem="%s" displayName="%s"/>\n'
        '          <title>%s</title>\n'
        '          <text>%s</text>\n'
        '        </section>\n'
        '      </component>',
        F.lit(code), F.lit(LOINC_SYSTEM), F.lit(display), F.lit(title), body,
    )


def _coded_entry(text_col: Column, code_map: list[tuple[str, str]],
                 system: str) -> Column:
    """First-match substring code lookup -> <entry> element or ''
    (xml_renderer_v2.py:664-676).  The lookup is rules.find_code; this
    wrapper only formats the <entry>."""
    hit = rules_udf(partial(rules.find_code, code_map=code_map),
                    CODE)(text_col)
    return F.when(
        hit.isNotNull(),
        F.format_string(
            '<entry><observation><code code="%s" displayName="%s" '
            'codeSystem="%s"/></observation></entry>',
            hit["code"], hit["display"], F.lit(system),
        ),
    ).otherwise(F.lit(""))


def _problem_row() -> Column:
    item_text = F.concat(
        xml_escape(F.col("problem")),
        F.when(F.col("icd10_code").isNotNull(),
               F.concat(F.lit(" ("), xml_escape(F.col("icd10_code")),
                        F.lit(")"))).otherwise(F.lit("")),
        F.when(F.col("source_page").isNotNull(),
               F.format_string(" [Page %d]", F.col("source_page"))
               ).otherwise(F.lit("")),
    )
    return F.concat(
        F.format_string("<item>%s</item>", item_text),
        _coded_entry(F.col("problem"), rules.SNOMED_CODES, SNOMED_SYSTEM),
    )


_MED_HEADER = (
    "<thead><tr><th>Medication</th><th>Dose</th><th>Frequency</th>"
    "<th>Route</th><th>Source Page</th></tr></thead>"
)


def _medication_row() -> Column:
    return F.format_string(
        "<tr><td>%s</td><td>%s</td><td>%s</td><td>%s</td><td>%s</td></tr>",
        xml_escape(F.col("name")), _na(F.col("dose")),
        _na(F.col("frequency")), _na(F.col("route")),
        _na(F.col("source_page").cast("string")),
    )


def _vital_row() -> Column:
    num = F.when(
        F.col("value") == F.floor("value"),
        F.col("value").cast("long").cast("string"),
    ).otherwise(F.col("value").cast("string"))
    return F.format_string(
        "<item>%s</item>",
        F.rtrim(F.format_string(
            "%s: %s %s", xml_escape(F.col("vital_name")), num,
            xml_escape(F.coalesce(F.col("unit"), F.lit(""))),
        )),
    )


_RESULT_HEADER = (
    "<thead><tr><th>Test</th><th>Value</th><th>Unit</th>"
    "<th>Reference Range</th><th>Flag</th><th>Source Page</th></tr></thead>"
)


def _result_row() -> Column:
    flag = F.when(
        F.col("abnormal_flag").isNull() | (F.col("abnormal_flag") == ""),
        F.lit("normal"),
    ).otherwise(xml_escape(F.col("abnormal_flag")))
    return F.concat(
        F.format_string(
            "<tr><td>%s</td><td>%s</td><td>%s</td><td>%s</td><td>%s</td>"
            "<td>%s</td></tr>",
            xml_escape(F.col("test_name")), _na(F.col("value")),
            _na(F.col("unit")), _na(F.col("reference_range")), flag,
            _na(F.col("source_page").cast("string")),
        ),
        _coded_entry(F.col("test_name"), rules.LOINC_CODES, LOINC_SYSTEM),
    )


def _plan_row() -> Column:
    item = F.concat(
        xml_escape(F.col("action")),
        F.when(F.col("category").isNotNull(),
               F.concat(F.lit(" ("), xml_escape(F.col("category")),
                        F.lit(")"))).otherwise(F.lit("")),
        F.when(F.col("source_page").isNotNull(),
               F.format_string(" [Page %d]", F.col("source_page"))
               ).otherwise(F.lit("")),
    )
    return F.format_string("<item>%s</item>", item)


def entity_sections(medications: DataFrame | None = None,
                    problems: DataFrame | None = None,
                    vitals: DataFrame | None = None,
                    results: DataFrame | None = None,
                    plan: DataFrame | None = None,
                    visit_texts: DataFrame | None = None) -> DataFrame:
    """(conv_id, visit_id, sections_xml): all per-visit sections in
    reference render order (reason-for-visit, HPI, problems,
    medications, vitals, results, assessment, plan —
    xml_renderer.py:205-212); absent sections are skipped the way the
    reference's early returns skip empty lists (concat_ws drops nulls).
    `visit_texts` is entities.extract_visit_texts output (long form
    with a `field` column) feeding the three text sections.

    Fused plan: rows are rendered per kind BEFORE a union-with-kind-rank,
    so every section comes out of ONE groupBy (conv_id, visit_id)
    aggregation — one shuffle instead of per-kind aggs + full-outer
    joins (measured 15 exchanges -> 2 on the contract query)."""
    kinds = []  # (rank, rows with rendered _row, (code,display,title,wrap,sep))
    mk = lambda df, rank, row: df.select(  # noqa: E731
        "conv_id", "visit_id",
        F.lit(rank).alias("_rank"),
        F.col("source_page").cast("int").alias("source_page"),
        F.col("source_line_in_turn").cast("int").alias("source_line_in_turn"),
        row.alias("_row"),
    )
    list_wrap = lambda body: F.format_string("<list>%s</list>", body)  # noqa: E731
    text_wrap = lambda body: body  # noqa: E731  (escaped text IS the body)

    def text_kind(rank, field, code, display, title):
        rows = visit_texts.filter(F.col("field") == field).select(
            "conv_id", "visit_id", "source_page", "source_line_in_turn",
            xml_escape(F.col("text")).alias("_t"),
        )
        kinds.append((rank, mk(rows, rank, F.col("_t")),
                      (code, display, title, text_wrap, "\n")))

    if visit_texts is not None:
        # xml_renderer.py:214-232 — Reason for Visit, HPI
        text_kind(0, "reason_for_visit", "29299-5", "Reason for visit",
                  "Reason for Visit")
        text_kind(1, "history_of_present_illness", "10164-2",
                  "History of Present Illness", "History of Present Illness")
    if problems is not None:
        kinds.append((2, mk(problems, 2, _problem_row()),
                      ("11450-4", "Problem List", "Problem List",
                       list_wrap, "")))
    if medications is not None:
        kinds.append((3, mk(medications, 3, _medication_row()),
                      ("10160-0", "Medication History", "Medications",
                       lambda b: F.format_string(
                           "<table>%s<tbody>%s</tbody></table>",
                           F.lit(_MED_HEADER), b), "")))
    if vitals is not None:
        kinds.append((4, mk(vitals.filter(F.col("value").isNotNull()), 4,
                            _vital_row()),
                      ("8716-3", "Vital Signs", "Vital Signs", list_wrap, "")))
    if results is not None:
        kinds.append((5, mk(results, 5, _result_row()),
                      ("30954-2", "Relevant diagnostic tests/laboratory data",
                       "Results",
                       lambda b: F.format_string(
                           "<table>%s<tbody>%s</tbody></table>",
                           F.lit(_RESULT_HEADER), b), "")))
    if visit_texts is not None:
        # xml_renderer.py:405-422 — Assessment
        text_kind(6, "assessment", "51848-0", "Assessment", "Assessment")
    if plan is not None:
        kinds.append((7, mk(plan, 7, _plan_row()),
                      ("18776-5", "Plan of Care", "Plan", list_wrap, "")))
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
    for rank, _df, (code, display, title, wrap, sep) in kinds:
        of_kind = F.filter(F.col("_rows"), lambda r: r["_rank"] == rank)
        body = F.array_join(F.transform(of_kind, lambda r: r["_row"]), sep)
        sections.append(
            F.when(F.size(of_kind) > 0,
                   _section_xml(code, display, title, wrap(body)))
        )
    return agg.select(
        "conv_id", "visit_id",
        F.concat_ws("\n", *sections).alias("sections_xml"),
    )


def demographics_xml(patients: DataFrame) -> DataFrame:
    """(conv_id, record_target_xml): recordTarget with patient id, parsed
    name (given/family split, xml_renderer.py:105-170), birthTime and
    administrativeGenderCode; UNK nullFlavors when absent."""
    from ..functions.cleaning import strip_ws

    pid = F.when(
        F.col("patient_id").isNotNull(),
        F.format_string('<id extension="%s" root="%s"/>',
                        xml_escape(F.col("patient_id").cast("string")),
                        F.lit(PATIENT_ID_ROOT)),
    ).otherwise(F.lit('<id nullFlavor="UNK"/>'))
    parsed = rules_udf(rules.parse_name, NAME)(F.col("patient_name"))
    name = F.when(
        F.col("patient_name").isNotNull()
        & (strip_ws(F.col("patient_name")) != ""),
        F.concat(
            F.lit("<name>"),
            F.when(parsed["given"] != "",
                   F.format_string("<given>%s</given>",
                                   xml_escape(parsed["given"]))
                   ).otherwise(F.lit("")),
            F.when(parsed["family"] != "",
                   F.format_string("<family>%s</family>",
                                   xml_escape(parsed["family"]))
                   ).otherwise(F.lit("")),
            F.lit("</name>"),
        ),
    ).otherwise(F.lit('<name nullFlavor="UNK"/>'))
    birth = F.when(
        F.col("dob").isNotNull(),
        F.format_string('<birthTime value="%s"/>',
                        F.date_format(F.col("dob"), "yyyyMMdd")),
    ).otherwise(F.lit('<birthTime nullFlavor="UNK"/>'))
    sex_code = F.when(
        F.lower(F.col("sex")).isin("male", "m"), F.lit("M")
    ).when(F.lower(F.col("sex")).isin("female", "f"), F.lit("F")
           ).otherwise(F.lit("U"))
    gender = F.format_string(
        '<administrativeGenderCode code="%s" codeSystem="%s"/>',
        F.coalesce(sex_code, F.lit("U")), F.lit(GENDER_CODE_SYSTEM),
    )
    block = F.format_string(
        "<recordTarget><patientRole>%s<patient>%s%s%s</patient>"
        "</patientRole></recordTarget>",
        pid, name, birth, gender,
    )
    return patients.select("conv_id", block.alias("record_target_xml"))
