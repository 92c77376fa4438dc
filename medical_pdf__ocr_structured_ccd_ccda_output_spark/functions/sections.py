"""Clinical section segmentation as JVM array expressions: the reference
twin of rules.extract_sections, which extraction itself runs in
operators/extract.py's Arrow UDF.  The contract queries (section and
entity queries over injected text) and the parity tests run it.

Mirrors rules.extract_sections: a header line opens a span; the span
ends on the line before the next header (or EOF).  Built with
transform/filter/slice over the split line array — per-turn, no
explode, no shuffle.

Performance notes (interpreted-lambda reality):
* a cheap single-regex PREFILTER guards the 22-rule match chain — the
  overwhelming majority of lines fail the prefilter and never touch
  the chain;
* the header array is referenced as few times as possible inside the
  span builder (each reference re-evaluates the filter chain when the
  optimizer inlines it).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import rules


def _prefilter_pattern() -> str:
    """Union of all header names (spaced + nospace variants) anchored at
    line start — a line failing this cannot match any section rule."""
    names: set[str] = set()
    for name in rules.MEDICAL_SECTIONS:
        names.add(re.escape(name))
        names.add(re.escape(name.replace(" ", "")))
    for raw, _ in rules.EXTRA_SECTION_HEADERS:
        names.add(re.escape(raw))
    # longest first, ties by name: a set's order follows the string
    # hash, which changes from process to process, and the pattern must
    # not (plans and compiled regexes stay reproducible across runs)
    alts = "|".join(sorted(names, key=lambda n: (-len(n), n)))
    # engine_portable: the rules spec's \s is Python-unicode (a header
    # line indented with NBSP must still match under Java regex)
    return rules.java_portable(
        r"(?i)^\s*(?:" + alts + r")\s*:?\s*$|(?i)^\s*(?:" + alts + r")\s*:"
    )


SECTION_PREFILTER = _prefilter_pattern()


def section_name_expr(line: Column) -> Column:
    """First matching section rule wins (priority = rules.SECTION_RULES
    order), guarded by the prefilter."""
    expr = None
    for name, pat in rules.SECTION_RULES:
        cond = line.rlike(rules.java_portable(pat))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return F.when(line.rlike(SECTION_PREFILTER), expr)


def sections_expr(text: Column) -> Column:
    """array<struct<section,start_line,end_line,text>> for one turn."""
    lines = F.split(text, "\n")
    n = F.size(lines)
    hdrs = F.filter(
        F.transform(
            lines,
            lambda l, i: F.struct(i.alias("i"), section_name_expr(l).alias("section")),
        ),
        lambda h: h["section"].isNotNull(),
    )

    # ends[j] = start of next header (or n): shift hdr starts left by one.
    # Building spans via zip_with keeps references to `hdrs` down to two.
    starts = F.transform(hdrs, lambda h: h["i"])
    ends = F.concat(F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
                    F.when(F.size(starts) > 0, F.array(n)).otherwise(F.array()))

    def mk_span(h: Column, end_line: Column) -> Column:
        return F.struct(
            h["section"].alias("section"),
            (h["i"] + 1).alias("start_line"),
            end_line.alias("end_line"),
            F.array_join(
                F.slice(lines, h["i"] + 1, end_line - h["i"]), "\n"
            ).alias("text"),
        )

    return F.zip_with(hdrs, ends, mk_span)


def encounter_type_expr(text):
    """Ordered first-match keyword scan -> EncounterType enum value
    (rules.ENCOUNTER_TYPE_RULES; 'unknown' default per enums.py:16-22)."""
    import pyspark.sql.functions as F

    from .. import rules

    low = F.lower(text)
    expr = F.lit("unknown")
    for key, enc in reversed(rules.ENCOUNTER_TYPE_RULES):
        expr = F.when(low.contains(key), F.lit(enc)).otherwise(expr)
    return expr
