"""Uncertain-token extraction + review flags/reasons as JVM expressions:
reference twins of rules.extract_uncertain_tokens / needs_review /
review_reasons (ocr_service.py:366-471), which extraction itself runs
in operators/extract.py's Arrow UDF.  The contract queries and the
parity tests run these.

Built entirely with higher-order array functions: three ordered passes
over the line array, concatenated, then capped at 20 — no explode, no
shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import rules
from .cleaning import strip_ws

TOKEN_STRUCT = "struct<line_number:int,token:string,context:string,reason:string>"


def _indexed_lines(text: Column) -> Column:
    return F.transform(
        F.split(text, "\n"),
        lambda l, i: F.struct((i + 1).alias("n"), l.alias("line")),
    )


def _unclear_pass(idx_lines: Column) -> Column:
    def mk(s: Column) -> Column:
        line = s["line"]
        pos = F.instr(line, "[UNCLEAR")                 # 1-based
        rel = F.instr(line.substr(pos, F.length(line)), "]")
        close = F.when(rel > 0, pos + rel - 1).otherwise(F.lit(0))  # 1-based, 0 if absent
        token = line.substr(pos, close - pos + 1)
        start0 = F.greatest(F.lit(0), pos - 21)         # python max(0, f-20)
        end0 = F.least(F.length(line), close + 20)      # python min(len, close0+21)
        context = strip_ws(line.substr(start0 + 1, end0 - start0))
        return F.struct(
            s["n"].alias("line_number"),
            token.alias("token"),
            context.alias("context"),
            F.lit("illegible_handwriting").alias("reason"),
        )

    return F.transform(
        F.filter(idx_lines, lambda s: s["line"].contains("[UNCLEAR")), mk
    )


def _abbrev_pass(idx_lines: Column) -> Column:
    abbrevs = F.array(*[
        F.struct(
            F.lit(a).alias("abbrev"),
            F.lit(f"ambiguous_abbreviation: {m}").alias("reason"),
        )
        for a, m in rules.AMBIGUOUS_ABBREVIATIONS
    ])

    def per_line(s: Column) -> Column:
        padded = F.concat(F.lit(" "), s["line"], F.lit(" "))
        hits = F.filter(
            abbrevs,
            lambda ab: padded.contains(
                F.concat(F.lit(" "), ab["abbrev"], F.lit(" "))
            ),
        )
        return F.transform(
            hits,
            lambda ab: F.struct(
                s["n"].alias("line_number"),
                ab["abbrev"].alias("token"),
                strip_ws(s["line"]).substr(1, 60).alias("context"),
                ab["reason"].alias("reason"),
            ),
        )

    return F.flatten(F.transform(idx_lines, per_line))


def _handwriting_pass(idx_lines: Column) -> Column:
    inds = F.array(*[F.lit(i) for i in rules.HANDWRITING_TOKEN_INDICATORS])

    def per_line(s: Column) -> Column:
        low = F.lower(s["line"])
        hits = F.filter(inds, lambda ind: low.contains(ind))
        return F.transform(
            hits,
            lambda ind: F.struct(
                s["n"].alias("line_number"),
                ind.alias("token"),
                strip_ws(s["line"]).substr(1, 60).alias("context"),
                F.lit("handwriting_uncertainty").alias("reason"),
            ),
        )

    return F.flatten(F.transform(idx_lines, per_line))


def uncertain_tokens_expr(text: Column) -> Column:
    idx = _indexed_lines(text)
    all_tokens = F.concat(
        _unclear_pass(idx), _abbrev_pass(idx), _handwriting_pass(idx)
    )
    return F.slice(all_tokens, 1, rules.MAX_UNCERTAIN_TOKENS)


def _count_reason(tokens: Column, needle: str) -> Column:
    return F.size(F.filter(tokens, lambda t: t["reason"].contains(needle)))


def needs_review_expr(confidence: Column, tokens: Column) -> Column:
    return (
        (confidence < 0.60)
        | (F.size(tokens) > 5)
        | (_count_reason(tokens, "illegible") > 2)
    )


def review_reasons_expr(confidence: Column, tokens: Column, text: Column) -> Column:
    """Ordered reason strings (ocr_service.py:442-471); %.1f matches the
    Python :.1% rendering because confidence is already 2-decimal."""
    length = F.length(text)
    pct = confidence * 100
    unclear = (
        (F.length(text) - F.length(F.replace(text, F.lit("[UNCLEAR"), F.lit(""))))
        / 8
    ).cast("int")
    hw = _count_reason(tokens, "handwriting")
    amb = _count_reason(tokens, "ambiguous")

    reasons = F.array(
        F.when(
            confidence < 0.60,
            F.format_string("Low OCR confidence: %.1f%% (threshold: 60%%)", pct),
        ),
        F.when(
            (confidence < 0.75) & (length > 100),
            F.format_string("Moderate confidence on substantial content: %.1f%%", pct),
        ),
        F.when(
            unclear > 0,
            F.format_string("%d illegible section(s) marked as [UNCLEAR]", unclear),
        ),
        F.when(
            hw > 3,
            F.format_string("%d sections with handwriting uncertainty", hw),
        ),
        F.when(
            amb > 2,
            F.format_string("%d ambiguous medical abbreviations detected", amb),
        ),
        F.when(
            length < 100,
            F.format_string(
                "Very short extraction (%d characters) - may indicate scan quality issues",
                length,
            ),
        ),
    )
    return F.array_compact(reasons)
