"""Sessionization: assign visit ids over stable turn ordering.

Mirrors chunking_service.py:44-103: a turn opens a new visit when its
(cleaned) text matches a boundary pattern, unless it is the first turn
of the conversation.  visit_seq = 1 + running count of boundary turns
after the first turn.  With b = 1 on a boundary turn and 0 otherwise,
that is 1 + sum(b) - first(b) over ONE running frame,
Window.partitionBy(conv_id).orderBy(turn_idx, ts) from the first row to
the current one: both aggregates share the frame, so the plan has one
Window operator and no row_number.

Two implementations with identical output:

* ``assign_visits`` — single window. One shuffle on conv_id. Right for
  normally-sized conversations (every conversation fits one task).

* ``assign_visits_skew_aware`` — two-level prefix sum for pathological
  conversations (10^8+ turns would make a single window task the
  straggler / OOM).  Turns are bucketed by ``turn_idx // bucket_size``;
  per-bucket boundary counts are aggregated (map-side combine), bucket
  prefix offsets are computed on the tiny per-bucket table, then joined
  back and combined with an intra-bucket running sum.  The expensive
  shuffles are keyed by (conv_id, bucket) — no single hot key.

  This is the "salt and repartition on conv_id" of the north-star
  brief in deterministic form: the bucket index is a content-derived
  salt (turn_idx // bucket_size) rather than a random one, which is
  what lets the per-bucket partials be recombined exactly (a random
  salt would defuse the hot key but destroy the prefix-sum order).
  The stateless extraction stage upstream needs no repartition at all
  — it is per-turn parallel with zero shuffle, so conversation length
  skew cannot make a straggler before the sessionize boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .. import rules
from ..session import context_cached
from .rollups import capped_ordered_concat, turn_order_mean

TURN_ORDER = ["turn_idx", "ts"]


def encounter_type_expr(text: Column) -> Column:
    """Ordered first-match keyword scan -> EncounterType enum value
    (rules.ENCOUNTER_TYPE_RULES; 'unknown' default per enums.py:16-22).

    The one JVM twin of a rules.py function (rules.infer_encounter_type,
    pinned to it by the encounter_type oracle and tests): visit_rollup
    evaluates it per turn in front of its aggregate, and an
    ArrowEvalPython node there does not pass on the cached turns'
    conv_id partitioning, so a UDF would add an Exchange
    hashpartitioning(conv_id, visit_id) and a Spark job to job.main."""
    low = F.lower(text)
    expr = F.lit("unknown")
    for key, enc in reversed(rules.ENCOUNTER_TYPE_RULES):
        expr = F.when(low.contains(key), F.lit(enc)).otherwise(expr)
    return expr


def _boundary_int() -> F.Column:
    return F.col("is_boundary").cast("int")


def _visit_columns() -> tuple[F.Column, F.Column]:
    """(visit_seq, visit_id) — visit_id reads visit_seq."""
    w_run = (
        Window.partitionBy("conv_id").orderBy(*TURN_ORDER)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # 0, not null, on a null flag: first(b) must never be null
    b = F.when(F.col("is_boundary"), 1).otherwise(0)
    visit_seq = F.lit(1) + F.sum(b).over(w_run) - F.first(b).over(w_run)
    return (
        visit_seq.cast("int"),
        F.format_string("visit_%03d", F.col("visit_seq")),
    )


def assign_visits(extracted: DataFrame) -> DataFrame:
    """Single-window visit assignment (one shuffle on conv_id, one
    Window operator).  The window Columns are built once per live
    SparkContext (``session.context_cached``)."""
    visit_seq, visit_id = context_cached(
        extracted, "assign_visits", _visit_columns)
    return (
        extracted.withColumn("visit_seq", visit_seq)
        .withColumn("visit_id", visit_id)
    )


def assign_visits_skew_aware(extracted: DataFrame,
                             bucket_size: int = 100_000) -> DataFrame:
    """Two-level (Hillis–Steele-style) prefix sum over bucketed turns.

    Equivalent to assign_visits; safe for conversations far larger than
    one executor's memory.  Assumes ordering by (turn_idx, ts) — the
    bucket key derives from turn_idx, so ordering across buckets is by
    turn_idx ranges.
    """
    df = extracted.withColumn(
        "_bucket", (F.col("turn_idx").cast("long") / bucket_size).cast("long")
    )

    # Level 1: per-bucket boundary counts + the bucket's first turn (with
    # its boundary flag riding along in the min-struct).  Map-side combine
    # makes this cheap; the result is tiny (one row per bucket).
    per_bucket = df.groupBy("conv_id", "_bucket").agg(
        F.sum(_boundary_int()).alias("_b_cnt"),
        F.min(
            F.struct("turn_idx", "ts", F.col("is_boundary").alias("b"))
        ).alias("_b_min"),
    )
    w_b = Window.partitionBy("conv_id").orderBy("_bucket")
    per_bucket = per_bucket.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_b_cnt").over(w_b.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn("_bucket_rn", F.row_number().over(w_b))

    # visit_seq(row) = 1 + (#boundaries at-or-before row) - (1 if the
    # conversation's first turn is itself a boundary) — the reference
    # never opens a new visit on the first page (chunking_service.py:72).
    first_flag = per_bucket.filter(F.col("_bucket_rn") == 1).select(
        "conv_id", F.col("_b_min")["b"].cast("int").alias("_first_is_boundary")
    )

    # Level 2: intra-bucket running sum, keyed (conv_id, bucket) — the
    # heavy shuffle has no hot key.
    w_in = (
        Window.partitionBy("conv_id", "_bucket")
        .orderBy(*TURN_ORDER)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum(_boundary_int()).over(w_in)
    out = (
        df.join(per_bucket.select("conv_id", "_bucket", "_offset"),
                ["conv_id", "_bucket"])
        .join(F.broadcast(first_flag), "conv_id")
        .withColumn(
            "visit_seq",
            (F.lit(1) + F.col("_offset") + run - F.col("_first_is_boundary"))
            .cast("int"),
        )
        .withColumn("visit_id", F.format_string("visit_%03d", F.col("visit_seq")))
        .drop("_bucket", "_offset", "_first_is_boundary")
    )
    return out


def visit_rollup(turns_with_visits: DataFrame,
                 include_raw_text: bool = True,
                 confidence_agg: str = "avg",
                 max_text_chars: int | None = None) -> DataFrame:
    """Per-visit chunk metadata (chunking_service.py:158-207 analog).

    Single groupBy with map-side partial aggregation.  visit_date is the
    first non-null extracted date in turn order (min over a struct —
    no second window shuffle).  raw_text concatenation is optional: at
    10^8-turn scale collect_list per visit is the one aggregate that
    cannot stream; disable it and keep the turn-level table instead.

    confidence_agg: 'avg' (reference semantics, chunking_service.py:
    183-207), summed in turn order by rollups.turn_order_mean so it is
    the same under any row layout (its state is one (turn_idx,
    confidence) pair per turn of the visit), or 'min' — min keeps the
    exact 2-decimal per-turn values, so downstream renderings of it are
    bit-identical across engines (used by the DuckDB-oracled ccd_xml
    contract query; a mean's last ulp differs between engines).

    max_text_chars bounds the raw_text aggregation STATE per visit and
    adds a raw_text_truncated flag — see rollups.capped_ordered_concat.
    The running-sum window is partitioned by (conv_id, visit_id) — hash
    partitioning on conv_id from the sessionize stage already satisfies
    that clustering, so no extra exchange (plan-pinned).  Default None =
    reference semantics."""
    frag = F.format_string(
        "\n--- Page %d ---\n%s\n", F.col("turn_idx"), F.col("text_clean")
    )
    if include_raw_text:
        # strip=False: per-visit raw_text is unstripped per reference
        # (chunking_service.py:158-207)
        turns_with_visits, raw_text, truncated = capped_ordered_concat(
            turns_with_visits, ["conv_id", "visit_id"], frag,
            max_text_chars, strip=False,
        )
    aggs = [
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        F.count("*").alias("turn_count"),
        F.min(
            F.when(
                F.col("extracted_date").isNotNull(),
                F.struct("turn_idx", "extracted_date"),
            )
        )["extracted_date"].alias("visit_date"),
        (F.min("confidence") if confidence_agg == "min"
         else turn_order_mean()).alias("confidence"),
    ]
    if "text_clean" in turns_with_visits.columns:
        # EncounterType (enums.py:16-22): first non-unknown per-turn
        # keyword guess in turn order, 'unknown' otherwise — same
        # min-over-struct trick as visit_date (no extra shuffle)
        guess = encounter_type_expr(F.col("text_clean"))
        aggs.append(
            F.coalesce(
                F.min(
                    F.when(guess != "unknown",
                           F.struct("turn_idx", guess.alias("g")))
                )["g"],
                F.lit("unknown"),
            ).alias("encounter_type")
        )
    if include_raw_text:
        aggs.append(raw_text.alias("raw_text"))
        if truncated is not None:
            aggs.append(truncated.alias("raw_text_truncated"))
    return turns_with_visits.groupBy("conv_id", "visit_id").agg(*aggs)


def session_window_rollup(events: DataFrame, key: str = "user_id",
                          ts: str = "ts", value: str = "value",
                          gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessions via Spark's NATIVE session_window operator —
    the declarative twin of the lag/prefix-sum islands form
    (q_sessionize_events): overlapping [ts, ts+gap) intervals per key
    are merged transitively, which yields the same sessions as "new
    island when the gap to the previous event is STRICTLY greater than
    `gap`" (measured: two events exactly `gap` apart merge into one
    session — pinned in tests/test_session_window.py).  Session start =
    first event ts, end = last event ts + gap.

    Epochs are emitted with unix_micros (instant arithmetic, timezone-
    free), so the result is bit-identical to the SQL islands oracle
    under any session timezone.

    100 TB (plan measured with .explain("formatted")): partial
    HashAggregate keyed on (key, raw-interval) -> ONE Exchange hash-
    partitioned on `key` -> per-partition Sort -> MergingSessions ->
    final HashAggregate.  The pre-shuffle partial collapses only rows
    with identical timestamps, so the shuffle carries ~one row per
    distinct (key, ts) — fine when sessions are the unit of analysis,
    but a single pathologically hot key concentrates its whole event
    stream in one task (the Sort is per-partition, not per-key, so
    memory spills rather than OOMs; for prefix-sum workloads on a hot
    key use the bucketed assign_visits_skew_aware shape instead).  In
    Structured Streaming the SAME expression is a watermark-evictable
    stateful session aggregation — state per key is bounded by OPEN
    sessions, not event volume; cross-micro-batch session merge is
    pinned in tests/test_session_window.py.
    """
    return (
        events.groupBy(F.col(key), F.session_window(F.col(ts), gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.col(value)).alias("max_value"),
        )
        .select(
            F.col(key),
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            "n_events", "max_value",
        )
    )
