"""Extraction stage: transcripts -> extracted_turns.

Every per-turn field comes from one Arrow UDF: a single ArrowEvalPython
node that runs ``reference_oracle.extract_turn`` — the rules.py
extractor the pytest oracle runs — over each batch of ``text`` and
returns one struct, from which the nine columns are selected.
``rules_udf`` is the one way the per-turn rules of ``rules.py`` run in
Spark: extraction builds its UDF on it, and the extraction-rule
contract queries call single rules through it.
This is the narrow, embarrassingly-parallel stage — it runs before any
shuffle, so Catalyst keeps it pipelined with the parquet scan and the
`text` column is pruned as soon as the struct is derived.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable
from functools import partial

# module level, not inside rules_udf: PySpark resolves the UDF's
# ``pa.Array`` hints from the module's globals
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from .. import reference_oracle
from ..session import context_cached

_TOKEN = T.StructType([
    T.StructField("line_number", T.IntegerType(), False),
    T.StructField("token", T.StringType(), False),
    T.StructField("context", T.StringType(), False),
    T.StructField("reason", T.StringType(), False),
])
_SECTION = T.StructType([
    T.StructField("section", T.StringType()),
    T.StructField("start_line", T.IntegerType()),
    T.StructField("end_line", T.IntegerType()),
    T.StructField("text", T.StringType()),
])
# the output columns in order; selected from a Python UDF's result,
# every column is nullable
FIELDS = T.StructType([
    T.StructField("text_clean", T.StringType()),
    T.StructField("confidence", T.DoubleType()),
    T.StructField("layout_hints", T.StructType([
        T.StructField("has_tables", T.BooleanType()),
        T.StructField("has_handwriting", T.BooleanType()),
    ])),
    T.StructField("uncertain_tokens", T.ArrayType(_TOKEN, False)),
    T.StructField("manual_review_required", T.BooleanType()),
    T.StructField("review_reasons", T.ArrayType(T.StringType(), False)),
    T.StructField("is_boundary", T.BooleanType()),
    T.StructField("extracted_date", T.DateType()),
    T.StructField("sections", T.ArrayType(_SECTION, False)),
])

# the struct column the UDF fills; dropped once its fields are selected
_STRUCT = "_extracted"


def _return_type(with_sections: bool) -> T.StructType:
    if with_sections:
        return FIELDS
    return T.StructType([f for f in FIELDS.fields if f.name != "sections"])


def rules_udf(fn: Callable[..., object],
              return_type: T.DataType) -> Callable[..., Column]:
    """A scalar Arrow UDF that maps ``fn`` (a ``rules.py`` function of
    N values) over each Arrow batch of N columns: one Python call per
    row, one ``pa.array`` per batch.  Nulls reach ``fn`` as None.

    Evaluate each call once per row: a filter on the UDF's result
    column is pushed below the projection that computes it, and the
    UDF then runs twice, in two ArrowEvalPython nodes with a Python
    worker each.  A rule that keeps or drops rows returns a 0-or-1
    element array to explode instead."""
    arrow_type = to_arrow_type(return_type)

    def run(*cols: pa.Array) -> pa.Array:
        rows = zip(*(c.to_pylist() for c in cols))
        return pa.array([fn(*r) for r in rows], type=arrow_type)

    return F.arrow_udf(run, return_type)


def extract_row(text: str | None, with_sections: bool) -> dict:
    """``reference_oracle.extract_turn`` with the date as a
    ``datetime.date``."""
    row = reference_oracle.extract_turn(text, with_sections=with_sections)
    if row["extracted_date"] is not None:
        row["extracted_date"] = datetime.date.fromisoformat(
            row["extracted_date"])
    return row


def _build_projection(with_sections: bool) -> tuple[dict[str, Column], ...]:
    """The extraction columns as dependency-ordered groups: the UDF's
    struct, then its fields."""
    return_type = _return_type(with_sections)
    udf = rules_udf(partial(extract_row, with_sections=with_sections),
                    return_type)
    struct = F.col(_STRUCT)
    return (
        {_STRUCT: udf(F.col("text"))},
        {f: struct[f] for f in return_type.names},
    )


def _projection(transcripts: DataFrame,
                with_sections: bool) -> tuple[dict[str, Column], ...]:
    return context_cached(
        transcripts, ("extract_turns", with_sections),
        lambda: _build_projection(with_sections),
    )


def extract_turns(transcripts: DataFrame,
                  with_sections: bool = True) -> DataFrame:
    """Per-turn extraction: clean text, confidence, uncertainty, review
    flags, layout hints, boundary flag, extracted date, section spans.

    One Arrow UDF (``rules_udf`` over ``extract_row``) computes every
    field with ``rules.py`` through ``reference_oracle.extract_turn``,
    the implementation the pytest oracle runs; ``with_sections=False``
    skips the section spans.  Its ArrowEvalPython node evaluates the
    UDF once per row, not once per selected field, and it is the node
    perfbench's tracer attributes to this stage.

    The projection (the UDF and the field Columns) is built once per
    live SparkContext and ``with_sections`` value — see
    ``session.context_cached``.  It is applied as two ``withColumns``
    projections, the struct and then its fields, and the struct and
    ``text`` are dropped; the columns keep their order and values."""
    df = transcripts
    for group in _projection(transcripts, with_sections):
        df = df.withColumns(group)
    return df.drop("text", _STRUCT)
