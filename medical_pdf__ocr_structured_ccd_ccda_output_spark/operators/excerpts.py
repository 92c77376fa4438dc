"""Source-excerpt enrichment (SURVEY J2 / F6).

Reference behavior (structuring_service.py:324-383): for each entity,
scan the document's lines for the first case-insensitive substring hit
of the entity key; emit {source_line, source_excerpt} where the excerpt
is a 60-char window starting 10 chars before the hit.

Spark design: entities ⨝ lines as an equi-join on conv_id with a
``contains`` residual, deduped to the first hit per entity with a
min-by aggregate over line number — instead of the reference's
O(entities × lines) nested Python loop.  The caller supplies the
numbered (conv_id, line_no, line) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.cleaning import strip_ws


def enrich_excerpts(entities: DataFrame, lines: DataFrame,
                    key_col: str) -> DataFrame:
    """Attach (source_line, source_excerpt) for the first line containing
    the entity key, case-insensitively.  Preserves input multiplicity
    (each entity row yields exactly one output row)."""
    # unique row key so duplicate entities each keep their own output row;
    # deterministic (row_number over a total order of the input columns —
    # SURVEY O5 bans monotonically_increasing_id): identical rows are
    # interchangeable, so the assignment is value-stable under task
    # retries/AQE.  The window partitions on conv_id, the same key as the
    # join below, so its exchange is reused.
    w = Window.partitionBy("conv_id").orderBy(
        *[F.col(c) for c in entities.columns]
    )
    ent = entities.withColumn("_eid", F.row_number().over(w)).alias("e")
    needle = F.lower(F.col(f"e.{key_col}"))
    skip = (
        F.col(f"e.{key_col}").isNull()
        | (F.col(f"e.{key_col}") == "")
        | F.col(f"e.{key_col}").isin("N/A", "null")
    )

    hit_pos = F.instr(F.lower(F.col("l.line")), needle)  # 1-based, 0 = miss
    cand = ent.join(
        lines.alias("l"),
        (F.col("e.conv_id") == F.col("l.conv_id")) & ~skip & (hit_pos > 0),
        "left",
    )
    pos0 = hit_pos - 1
    start0 = F.greatest(F.lit(0), pos0 - 10)
    end0 = F.least(F.length("l.line"), start0 + 60)
    # strip_ws, not \s-trim: the reference strips with Python .strip(),
    # which is unicode-aware (NBSP/NEL/Z*); Java \s is ASCII-only
    excerpt = strip_ws(
        F.col("l.line").substr(start0 + 1, end0 - start0)
    ).substr(1, 60)

    first = F.min(
        F.when(
            F.col("l.line_no").isNotNull(),
            F.struct(
                F.col("l.line_no").alias("source_line"),
                excerpt.alias("source_excerpt"),
            ),
        )
    ).alias("_hit")
    out = cand.groupBy(
        F.col("e._eid").alias("_eid"),
        *[F.col(f"e.{c}").alias(c) for c in entities.columns],
    ).agg(first)
    return out.select(
        *entities.columns,
        F.col("_hit.source_line").alias("source_line"),
        F.col("_hit.source_excerpt").alias("source_excerpt"),
    )
