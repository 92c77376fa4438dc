"""Extraction stage: transcripts -> extracted_turns.

Every per-turn field comes from one Arrow UDF: a single ArrowEvalPython
node that runs ``reference_oracle.extract_turn`` — the rules.py
extractor the pytest oracle runs — over each batch of ``text`` and
returns one struct, from which the nine columns are selected.  The JVM
expressions in ``functions/`` (``clean_text_expr``, ``confidence_expr``,
``sections_expr``, ...) are references only: the contract queries,
``bench.py`` and the parity tests run them; extraction does not.
This is the narrow, embarrassingly-parallel stage — it runs before any
shuffle, so Catalyst keeps it pipelined with the parquet scan and the
`text` column is pruned as soon as the struct is derived.
"""

from __future__ import annotations

import datetime

# module level, not inside _build_projection: PySpark resolves the UDF's
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
# the output columns in order, typed as the JVM references type them;
# selected from a Python UDF's result, every column is nullable (the
# references' layout_hints and review_reasons were not)
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


def extract_batch(text: pa.Array, with_sections: bool) -> pa.Array:
    """``reference_oracle.extract_turn`` over one Arrow batch, as a
    struct array of the extraction fields."""
    rows = []
    for t in text.to_pylist():
        row = reference_oracle.extract_turn(t, with_sections=with_sections)
        if row["extracted_date"] is not None:
            row["extracted_date"] = datetime.date.fromisoformat(
                row["extracted_date"])
        rows.append(row)
    return pa.array(rows, type=to_arrow_type(_return_type(with_sections)))


def _build_projection(with_sections: bool) -> tuple[dict[str, Column], ...]:
    """The extraction columns as dependency-ordered groups: the UDF's
    struct, then its fields."""
    def extract(text: pa.Array) -> pa.Array:
        return extract_batch(text, with_sections)

    return_type = _return_type(with_sections)
    udf = F.arrow_udf(extract, return_type)
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

    One Arrow UDF (``extract_batch``) computes every field with
    ``rules.py`` through ``reference_oracle.extract_turn``, the
    implementation the pytest oracle runs; ``with_sections=False``
    skips the section spans.  Its ArrowEvalPython node evaluates the
    UDF once per row, not once per selected field, and it is the node
    perfbench's tracer attributes to this stage.  The JVM twins in
    ``functions/`` evaluate the same fields as about 4,000 expression
    nodes whose higher-order lambdas run interpreted; on ``extract_hot``
    they cost more than the whole Python extractor (BENCH.md §18), so
    they are kept only as references.

    The projection (the UDF and the field Columns) is built once per
    live SparkContext and ``with_sections`` value — see
    ``session.context_cached``.  It is applied as two ``withColumns``
    projections, the struct and then its fields, and the struct and
    ``text`` are dropped; the columns keep their order and values."""
    df = transcripts
    for group in _projection(transcripts, with_sections):
        df = df.withColumns(group)
    return df.drop("text", _STRUCT)
