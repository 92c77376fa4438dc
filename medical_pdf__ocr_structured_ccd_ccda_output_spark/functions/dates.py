"""Date extraction + visit boundary detection as column expressions:
reference twins of rules.extract_date / is_visit_boundary, which
extraction itself runs in operators/extract.py's Arrow UDF.  The
contract queries and the parity and streaming tests run these.

Mirrors rules.extract_date (chunking_service.py:119-156): three patterns
tried in order, first *match* per pattern, invalid parse falls through
to the next pattern (coalesce of try_to_date), century pivot at 50.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import rules


def _candidate(text: Column, pattern: str, order: str) -> Column:
    g1 = F.regexp_extract(text, pattern, 1)
    g2 = F.regexp_extract(text, pattern, 2)
    g3 = F.regexp_extract(text, pattern, 3)
    if order == "mdy":
        y, m, d = g3, g1, g2
    elif order == "ymd":
        y, m, d = g1, g2, g3
    else:  # mdy with 2-digit year pivot
        yy = g3
        y = F.when(
            yy.cast("int") < 50, F.concat(F.lit("20"), yy)
        ).otherwise(F.concat(F.lit("19"), yy))
        m, d = g1, g2
    iso = F.concat_ws("-", y, m, d)
    # y > 0: Spark's try_to_date is proleptic and accepts year 0000,
    # but Python strptime (the rules spec) raises for year < MINYEAR=1
    # and falls through to the next pattern
    return F.when((g1 != "") & (y.cast("int") > 0),
                  F.try_to_date(iso, "yyyy-M-d"))


def extracted_date_expr(text: Column) -> Column:
    """DateType result (null when no pattern yields a valid date)."""
    return F.coalesce(
        _candidate(text, rules.DATE_PATTERNS[0], "mdy"),
        _candidate(text, rules.DATE_PATTERNS[1], "ymd"),
        _candidate(text, rules.DATE_PATTERNS[2], "pivot"),
    )


def is_visit_boundary_expr(text: Column) -> Column:
    # java_portable: without (?d), Java's (?im)^ also fires after a bare
    # \r / NEL / U+2028 surviving mid-line, where Python re (and the
    # RE2 oracle) anchor only after \n — phantom visit boundaries
    return text.rlike(rules.java_portable(rules.VISIT_BOUNDARY_PATTERN))
