"""Extraction stage: transcripts -> extracted_turns.

``text_clean`` comes from the Arrow-batched cleaning UDF: one
ArrowEvalPython node running ``rules.clean_text``, the same code the
pytest oracle runs.  Every other column is a JVM expression over
``text_clean`` (whole-stage codegen; no Python).  The pure-JVM
``clean_text_expr`` twin is a reference only (the ``clean_extract``
contract query and the parity tests); extraction never uses it.
This is the narrow, embarrassingly-parallel stage — it runs before any
shuffle, so Catalyst keeps it pipelined with the parquet scan and the
`text` column is pruned as soon as `text_clean` is derived.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.cleaning import clean_text_pandas_udf, layout_hints_expr
from ..functions.confidence import confidence_expr
from ..functions.dates import extracted_date_expr, is_visit_boundary_expr
from ..functions.sections import sections_expr
from ..functions.tokens import (
    needs_review_expr,
    review_reasons_expr,
    uncertain_tokens_expr,
)
from ..session import context_cached


def _build_projection(with_sections: bool) -> tuple[dict[str, Column], ...]:
    """The extraction columns as dependency-ordered groups: each group
    reads only columns an earlier group (or the input) defines."""
    text_clean = clean_text_pandas_udf()(F.col("text"))
    c = F.col("text_clean")
    conf, unc = F.col("confidence"), F.col("uncertain_tokens")
    derived = {
        "manual_review_required": needs_review_expr(conf, unc),
        "review_reasons": review_reasons_expr(conf, unc, c),
        "is_boundary": is_visit_boundary_expr(c),
        "extracted_date": extracted_date_expr(c),
    }
    if with_sections:
        derived["sections"] = sections_expr(c)
    return (
        {"text_clean": text_clean},
        {
            "confidence": confidence_expr(c),
            "layout_hints": layout_hints_expr(c),
            "uncertain_tokens": uncertain_tokens_expr(c),
        },
        derived,
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

    The boilerplate-strip pass runs as an Arrow-batched pandas UDF over
    ``rules.clean_text``, the implementation the pytest oracle runs.
    Its ArrowEvalPython node materializes text_clean as a real column,
    so the dozen downstream expressions read an attribute instead of
    having the cleaning expression inlined into each of them by
    CollapseProject.  It is also the node perfbench's tracer attributes
    to this stage.  The pure-JVM ``clean_text_expr`` twin (tested equal)
    measured no faster on ``extract_hot`` (BENCH.md §16), so it is kept
    only as the reference.

    The projection (the cleaning UDF and every Column expression) is
    built once per live SparkContext and ``with_sections`` value — see
    ``session.context_cached``.  Building it takes ~4,000 py4j round
    trips (~1 s of driver time on a 4-vCPU host), which a hot loop of
    passes, the shards of ``job.main`` and every streaming invocation
    would otherwise pay per plan; with it a warm
    ``assign_visits(extract_turns(t))`` build sends 60
    (``tools/plan_build_probe.py``).  The columns are applied as three
    ``withColumns`` projections, in dependency order, instead of nine
    ``withColumn`` analyses; schema, column order and values are
    unchanged."""
    df = transcripts
    for group in _projection(transcripts, with_sections):
        df = df.withColumns(group)
    return df.drop("text")
