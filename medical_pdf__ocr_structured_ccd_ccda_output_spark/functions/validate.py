"""Schema-validation warnings stage (SURVEY §1.3).

The reference enforces its canonical schema with raising Pydantic
validators (canonical_schema.py:202-208 visit_id prefix, :187-191
confidence range, :182-186 raw_source_pages min length, :286-292
schema_version pin).  A distributed pipeline must not abort a 100 TB
job on one bad row, so the same checks become a column expression
producing a `warnings` array — rows flow on, flagged.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..rules import SUPPORTED_SCHEMA_VERSION


def visit_warnings_expr(visit_id: Column, confidence: Column,
                        page_count: Column,
                        schema_version: Column | None = None) -> Column:
    """Ordered warning codes for one visit row; empty array = valid."""
    if schema_version is None:
        schema_version = F.lit(SUPPORTED_SCHEMA_VERSION)
    return F.array_compact(F.array(
        # coalesce: a NULL visit_id must flag, not null out the predicate
        F.when(~F.coalesce(visit_id.startswith("visit_"), F.lit(False)),
               F.lit("invalid_visit_id")),
        F.when(
            confidence.isNull() | (confidence < 0.0) | (confidence > 1.0),
            F.lit("confidence_out_of_range"),
        ),
        F.when(page_count < 1, F.lit("no_source_pages")),
        F.when(schema_version != SUPPORTED_SCHEMA_VERSION,
               F.lit("unsupported_schema_version")),
    ))
