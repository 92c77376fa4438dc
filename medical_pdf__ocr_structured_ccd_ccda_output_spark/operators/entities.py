"""Rule-based entity extraction from section spans (structuring analog).

The reference's structuring stage is an LLM call; the graft replaces it
with deterministic line-based parsing of the already-segmented sections
(MEDICATIONS / problem-bearing / LABORATORY), per the extraction tier's
north star.  Medications, problems and labs are parsed with JVM regex;
vitals, allergies and plan items with the rules.py line grammar, one
Arrow UDF call per section line.

Output schemas follow FIXTURES.md §3 so the dedup stage can consume
either these extracted entities or externally-provided entity tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F, types as T

from .. import rules
from ..functions.cleaning import PY_WS
from .extract import rules_udf

# name then optional dose (number+unit) then the rest as frequency/route
# (engine_portable: \s means Python-unicode whitespace in every grammar
# of this module — an NBSP-indented med line must still parse)
_MED_LINE = rules.java_portable(
    r"^\s*(?:\d+[.)]\s*)?([A-Za-z][A-Za-z \-]*?)\s+(\d+(?:\.\d+)?\s*(?:mg|mcg|g|ml|units?))\b\s*(.*)$"
)
_PROBLEM_SECTIONS = ("PAST MEDICAL HISTORY", "ASSESSMENT", "IMPRESSION")
_LAB_LINE = rules.java_portable(
    r"^\s*([A-Za-z][A-Za-z0-9 ]*?)\s*\|\s*([^|]+?)\s*\|\s*([^|]+?)\s*(?:\|\s*([^|]*?)\s*)?$"
)


def _section_lines(turns: DataFrame, section_names: tuple[str, ...]) -> DataFrame:
    """Explode matching sections into (conv_id, visit_id, turn_idx, line_no,
    line) rows; line_no is the absolute line number within the turn."""
    sec = F.explode(
        F.filter(F.col("sections"), lambda s: s["section"].isin(*section_names))
    ).alias("sec")
    base = turns.select("conv_id", "visit_id", "turn_idx", sec)
    line = F.posexplode(F.split(F.col("sec.text"), "\n")).alias("pos", "line")
    return base.select(
        "conv_id", "visit_id", "turn_idx",
        F.col("sec.section").alias("section"),
        F.col("sec.start_line").alias("section_start"),
        line,
    ).withColumn("line_no", F.col("section_start") + F.col("pos")) \
     .filter(F.col("pos") > 0)  # skip the header line itself


def extract_medications(turns: DataFrame) -> DataFrame:
    lines = _section_lines(turns, ("MEDICATIONS",))
    m = lambda g: F.regexp_extract(F.col("line"), _MED_LINE, g)  # noqa: E731
    return (
        lines.filter(F.col("line").rlike(_MED_LINE))
        .select(
            "conv_id", "visit_id",
            F.trim(m(1)).alias("name"),
            F.regexp_replace(m(2), f"{PY_WS}+", "").alias("dose"),
            F.nullif(F.trim(m(3)), F.lit("")).alias("frequency"),
            F.lit(None).cast("string").alias("route"),
            F.col("turn_idx").alias("source_page"),
            F.col("line_no").alias("source_line_in_turn"),
        )
    )


def extract_problems(turns: DataFrame) -> DataFrame:
    lines = _section_lines(turns, _PROBLEM_SECTIONS)
    cleaned = F.regexp_replace(
        F.col("line"), rules.java_portable(r"^\s*[-*•]\s*"), ""
    )
    return (
        lines.filter(F.col("line").rlike(rules.java_portable(r"^\s*[-*•]\s*\S")))
        .select(
            "conv_id", "visit_id",
            F.trim(cleaned).alias("problem"),
            F.lit(None).cast("string").alias("icd10_code"),
            F.lit(None).cast("string").alias("status"),
            F.col("turn_idx").alias("source_page"),
            F.col("line_no").alias("source_line_in_turn"),
        )
    )


def extract_lab_results(turns: DataFrame) -> DataFrame:
    """Pipe-delimited lab rows: test | value | unit [| flag]."""
    lines = _section_lines(turns, ("LABORATORY",))
    g = lambda i: F.regexp_extract(F.col("line"), _LAB_LINE, i)  # noqa: E731
    return (
        lines.filter(F.col("line").rlike(_LAB_LINE))
        .select(
            "conv_id", "visit_id",
            F.trim(g(1)).alias("test_name"),
            F.trim(g(2)).alias("value"),
            F.nullif(F.trim(g(3)), F.lit("")).alias("unit"),
            F.lit(None).cast("string").alias("reference_range"),
            F.nullif(F.trim(g(4)), F.lit("")).alias("abnormal_flag"),
            F.col("turn_idx").alias("source_page"),
            F.col("line_no").alias("source_line_in_turn"),
        )
    )


# ---------------------------------------------------------------------------
# Vitals / allergies / plan (canonical_schema.py:64-94,140-180): the
# line grammar is rules.py §13's, run on each section line through
# rules_udf
# ---------------------------------------------------------------------------

_VITAL_FIELDS = [
    T.StructField("vital_name", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("systolic", T.DoubleType()),
    T.StructField("diastolic", T.DoubleType()),
    T.StructField("unit", T.StringType()),
    T.StructField("bp_valid", T.BooleanType()),
]
_ALLERGY_FIELDS = [T.StructField("substance", T.StringType())]
_PLAN_FIELDS = [
    T.StructField("action", T.StringType()),
    T.StructField("category", T.StringType()),
]


def _parsed_lines(turns: DataFrame, section: str,
                  parse: Callable[[str | None], list],
                  fields: list[T.StructField]) -> DataFrame:
    """One row per line of ``section`` that ``parse`` accepts: its
    result's ``fields``, then source_page and source_line_in_turn.
    ``parse`` returns a 0-or-1 element list, so the explode both keeps
    the accepted lines and parses each line once (see rules_udf)."""
    udf = rules_udf(parse, T.ArrayType(T.StructType(fields)))
    return _section_lines(turns, (section,)).select(
        "conv_id", "visit_id",
        F.explode(udf(F.col("line"))).alias("_p"),
        F.col("turn_idx").alias("source_page"),
        F.col("line_no").alias("source_line_in_turn"),
    ).select("conv_id", "visit_id", "_p.*",
             "source_page", "source_line_in_turn")


def _vital(line: str | None) -> list:
    v = rules.parse_vital_line(line)
    return [] if v is None else [v]


def _allergy(line: str | None) -> list:
    s = rules.parse_allergy_line(line)
    return [] if s is None else [(s,)]


def _plan(line: str | None) -> list:
    p = rules.parse_plan_line(line)
    return [] if p is None else [p]


def extract_vitals(turns: DataFrame) -> DataFrame:
    """VITAL SIGNS section lines -> one row per recognized vital with the
    BloodPressure range validation flag (rules.parse_vital_line)."""
    return _parsed_lines(turns, "VITAL SIGNS", _vital, _VITAL_FIELDS)


def extract_allergies(turns: DataFrame) -> DataFrame:
    """ALLERGIES section lines -> substance strings, bullets stripped and
    no-allergy markers dropped (rules.parse_allergy_line)."""
    return _parsed_lines(turns, "ALLERGIES", _allergy, _ALLERGY_FIELDS)


def extract_plan_items(turns: DataFrame) -> DataFrame:
    """PLAN section lines -> PlanItem rows with the ordered-keyword
    category (rules.parse_plan_line)."""
    return _parsed_lines(turns, "PLAN", _plan, _PLAN_FIELDS)


def extract_visit_texts(turns: DataFrame) -> DataFrame:
    """Visit-level text fields (canonical_schema.py:168-179): the body
    text of CHIEF COMPLAINT / REASON FOR VISIT / HPI / ASSESSMENT
    sections, concatenated in document order per (conv_id, visit_id).
    Returns (conv_id, visit_id, field, text, source_page,
    source_line_in_turn) — one row per contributing section span."""
    names = tuple(rules.VISIT_TEXT_SECTIONS)
    sec = F.explode(
        F.filter(F.col("sections"), lambda s: s["section"].isin(*names))
    ).alias("sec")
    base = turns.select("conv_id", "visit_id", "turn_idx", sec)
    field = F.lit(None).cast("string")
    for name, canonical in reversed(list(rules.VISIT_TEXT_SECTIONS.items())):
        field = F.when(F.col("sec.section") == name, F.lit(canonical)) \
            .otherwise(field)
    # body = inline content after the header colon (the `HEADER: text`
    # form, common for CHIEF COMPLAINT) + the span's remaining lines
    first_line = F.regexp_extract(F.col("sec.text"), r"^([^\n]*)", 1)
    inline = F.when(
        first_line.contains(":"),
        F.trim(F.regexp_replace(first_line, r"^[^:]*:", "")),
    ).otherwise(F.lit(""))
    rest = F.regexp_replace(F.col("sec.text"), r"^[^\n]*\n?", "")
    body = (
        F.when((inline != "") & (rest != ""),
               F.concat(inline, F.lit("\n"), rest))
        .when(inline != "", inline)
        .otherwise(rest)
    )
    return base.select(
        "conv_id", "visit_id",
        field.alias("field"),
        body.alias("text"),
        F.col("turn_idx").alias("source_page"),
        F.col("sec.start_line").alias("source_line_in_turn"),
    ).filter(F.col("text") != "")
