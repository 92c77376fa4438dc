"""Document- and corpus-level aggregations (SURVEY §2.6 A1-A5, A13, S7).

All plain groupBy aggregates — map-side partial aggregation, one shuffle
keyed by conv_id (fine-grained; no hot key because per-conv state is a
handful of counters, not a row list — except the optional combined-text
sink, which is gated the same way as visit raw_text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.cleaning import PY_WS, strip_ws


def capped_ordered_concat(df: DataFrame, part_cols: list[str],
                          frag, max_chars: int | None,
                          strip: bool = False,
                          order_col: str = "turn_idx"):
    """Shared bounded-state ordered-concat machinery for the combined-
    text sinks (document_rollup / sessionize.visit_rollup — one
    implementation, round-3 review fix).

    Returns ``(df, text_col, truncated_col)`` where ``text_col`` is an
    aggregate expression (use inside the caller's groupBy over exactly
    ``part_cols``) and ``truncated_col`` is None when ``max_chars`` is.

    When ``max_chars`` is set, the PER-GROUP AGGREGATION STATE is
    bounded, not just the output string: a running-length window over
    ``part_cols`` (the same keys as the caller's groupBy — no extra
    exchange) nulls the WHOLE collect struct for past-cap rows
    (collect_list skips null elements, but not structs with a null
    field), so a pathological 10^8-turn group buffers ~max_chars + one
    fragment.  The truncated flag compares the cap against the exact
    length of the FULL (uncapped) text, computed without materializing
    it; with ``strip=True`` that is
        len(strip(concat)) = sum(len(frag)) - 1 - trail_ws_run(last)
    which requires the caller's frag to start with exactly ONE
    whitespace char followed by non-whitespace (both banner formats do:
    '\\n' + banner / '\\n' + '---') — flagging on the raw sum alone
    would over-report near the cap by the chars the strip shaves.

    strip=True applies Python-str.strip() parity (strip_ws, unicode-
    aware) to the assembled text, matching the reference's .strip() on
    the combined document; visit raw_text is unstripped per reference.
    """
    from pyspark.sql import Window

    entry = F.struct(order_col, frag.alias("frag"))
    if max_chars is not None:
        w = (
            Window.partitionBy(*part_cols).orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cum_before = F.coalesce(F.sum(F.length(frag)).over(w), F.lit(0))
        # windows can't live inside an aggregate — materialize pre-agg
        df = df.withColumn(
            "_frag_entry", F.when(cum_before < F.lit(max_chars), entry)
        )
        entry = F.col("_frag_entry")
    joined = F.array_join(
        F.transform(F.array_sort(F.collect_list(entry)), lambda s: s["frag"]),
        "",
    )
    if strip:
        joined = strip_ws(joined)
    if max_chars is None:
        return df, joined, None
    if strip:
        trail_run = F.length(F.regexp_extract(frag, f"({PY_WS}*)$", 1))
        full_len = (
            F.sum(F.length(frag)) - F.lit(1)
            - F.max_by(trail_run, F.col(order_col))
        )
    else:
        full_len = F.sum(F.length(frag))
    return (df, F.substring(joined, 1, max_chars),
            full_len > F.lit(max_chars))


def turn_order_mean() -> Column:
    """Aggregate expression: the mean ``confidence`` of the group,
    summed in ``turn_idx`` order, skipping nulls (null when every value
    is).

    ``F.avg``'s double sum adds in partition order, so its last ulp
    follows the row layout, and a 2-decimal ``bround`` over it can then
    flip (an exact mean of 0.625 summed as 0.6250000000000001 rounds
    to 0.63, summed exactly to 0.62).  A sequential fold over the
    values sorted by turn is the oracle's ``sum(confs) / len(confs)``
    bit for bit, whatever the layout — the same fix as
    ``mean_bigram_prob``.  (That holds while the oracle's ``sum`` adds
    left to right, as CPython's does before 3.12.)  The per-group state
    is the group's values, like the combined-text collect_list beside
    it."""
    value = F.col("confidence")
    entry = F.when(value.isNotNull(), F.struct("turn_idx", value.alias("v")))
    total = F.aggregate(F.array_sort(F.collect_list(entry)), F.lit(0.0),
                        lambda acc, x: acc + x["v"])
    n = F.count(value)
    return F.when(n > 0, total / n)


def document_rollup(turns_with_visits: DataFrame,
                    include_combined_text: bool = True,
                    max_text_chars: int | None = None) -> DataFrame:
    """Per-conversation metadata analog of MedicalDocument processing
    fields (structuring_service.py:289-311, main.py:218-239):
    page_count, avg OCR confidence (2-dec), visit count, review stats,
    unclear-marker count, total characters, optional combined text with
    PAGE banners (structuring_service.py:294-302).

    max_text_chars bounds the PER-GROUP AGGREGATION STATE of the
    combined-text sink, not just the output string, and adds a
    raw_text_truncated flag — see capped_ordered_concat (one shuffle
    total, plan-pinned).  Default None = reference semantics (unbounded
    concat, the S7 sink contract)."""
    banner = "=" * 80
    frag = F.format_string(
        "\n%s\nPAGE %d\n%s\n\n%s\n\n",
        F.lit(banner), F.col("turn_idx"), F.lit(banner), F.col("text_clean"),
    )
    if include_combined_text:
        # strip=True: the reference strips the assembled document with
        # str.strip() (structuring_service.py:294-302)
        turns_with_visits, combined, truncated = capped_ordered_concat(
            turns_with_visits, ["conv_id"], frag, max_text_chars, strip=True
        )
    aggs = [
        F.count("*").alias("page_count"),
        F.bround(turn_order_mean(), 2).alias("ocr_confidence_avg"),
        F.sum(F.when(F.col("confidence") > 0, 1).otherwise(0)).alias("successful_pages"),
        F.countDistinct("visit_id").alias("visit_count"),
        F.sum(F.col("manual_review_required").cast("int")).alias("pages_needing_review"),
        F.array_distinct(
            F.flatten(F.collect_list("review_reasons"))
        ).alias("all_review_reasons"),
        F.sum(
            (
                (F.length("text_clean")
                 - F.length(F.replace(F.col("text_clean"), F.lit("[UNCLEAR"), F.lit(""))))
                / 8
            ).cast("int")
        ).alias("unclear_marker_count"),
        F.sum(F.length("text_clean")).alias("total_characters"),
    ]
    if include_combined_text:
        aggs.append(combined.alias("raw_ocr_text"))
        if truncated is not None:
            aggs.append(truncated.alias("raw_text_truncated"))
    return turns_with_visits.groupBy("conv_id").agg(*aggs)


def stage_metrics(turns_with_visits: DataFrame) -> DataFrame:
    """Corpus-level per-stage metric rows (main.py:218-239 summary analog):
    long-format (metric, value) for easy appending to a metrics table."""
    agg = turns_with_visits.agg(
        F.count("*").alias("turns_total"),
        F.countDistinct("conv_id").alias("conversations_total"),
        F.sum(F.col("manual_review_required").cast("int")).alias("turns_needing_review"),
        F.bround(F.avg("confidence"), 4).alias("avg_confidence"),
        F.sum(F.col("is_boundary").cast("int")).alias("boundary_turns"),
        F.sum(F.size("uncertain_tokens")).alias("uncertain_tokens_total"),
    )
    cols = agg.columns
    stacked = agg.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("metric"), F.col(c).cast("double").alias("value"))
                for c in cols
            ])
        ).alias("kv")
    )
    return stacked.select("kv.metric", "kv.value")


def data_quality_rollup(turns_with_sections: DataFrame,
                        include_confidence: bool = True) -> DataFrame:
    """Per-conversation DataQuality analog (canonical_schema.py:211-233):
    completeness_score = fraction of the canonical section vocabulary
    present, unclear-section count (spans containing an [UNCLEAR
    marker), missing critical fields, and the avg-confidence score.
    One groupBy over the sections array — no explode, no extra shuffle."""
    from .. import rules

    sec_names = F.transform(F.col("sections"), lambda s: s["section"])
    unclear_in_turn = F.size(
        F.filter(F.col("sections"), lambda s: s["text"].contains("[UNCLEAR"))
    )
    aggs = [
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(sec_names)))
        ).alias("present_sections"),
        F.sum(unclear_in_turn).cast("long").alias("n_unclear_sections"),
    ]
    if include_confidence:
        aggs.append(F.bround(turn_order_mean(), 2).alias("confidence_score"))
    agg = turns_with_sections.groupBy("conv_id").agg(*aggs)
    expected = F.array(*[F.lit(s) for s in rules.EXPECTED_SECTIONS])
    critical = F.array(*[F.lit(s) for s in rules.CRITICAL_SECTIONS])
    return agg.select(
        "conv_id",
        (F.size("present_sections").cast("double")
         / F.lit(float(len(rules.EXPECTED_SECTIONS))))
        .alias("completeness_score"),
        "present_sections",
        F.array_sort(F.array_except(critical, F.col("present_sections")))
        .alias("missing_critical_fields"),
        "n_unclear_sections",
        *(["confidence_score"] if include_confidence else []),
    )
