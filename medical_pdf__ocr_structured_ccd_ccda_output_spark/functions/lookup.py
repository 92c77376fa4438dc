"""Dictionary lookups, variant preservation, name parsing (SURVEY F3,
F8-F11).

Reference semantics:
  * F8 variant lookup — reference/src/services/variant_preservation.py:126-168:
    known-variant dict hit first, then difflib.get_close_matches(n=3,
    cutoff=0.8) against an optional dictionary; order-preserving
    case-insensitive dedup; decision = multiple_variants | raw_preserved.
  * F9 unclear marking — variant_preservation.py:170-185.
  * F10 name parsing — reference/src/renderers/xml_renderer_v2.py:653-662.
  * F11 SNOMED/LOINC lookup — xml_renderer_v2.py:46-59,664-676: ordered
    first-match substring scan of a tiny code map.
  * F3 similarity — reference/src/services/deduplication_service.py:57-74.

Spark design notes:
  * The code maps are a handful of entries, so an ordered chain of
    ``when(contains)`` JVM expressions beats a broadcast join (no join
    node, stays inside whole-stage codegen, preserves first-match-wins
    ordering for free).  A broadcast join would win only if the map grew
    to thousands of rows — ``code_lookup_join`` provides that shape too.
  * The close-match path needs difflib (Ratcliff-Obershelp; Spark's
    levenshtein is a different metric), so it is an Arrow-batched pandas
    UDF over the term column with the (tiny) dictionary captured in the
    closure — one Python round-trip per batch, zero per-row Python on
    the JVM side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from .. import rules
from .cleaning import strip_ws

# ---------------------------------------------------------------------------
# F3: Ratcliff-Obershelp similarity as a vectorized pair scorer
# ---------------------------------------------------------------------------


def similarity_udf():
    """pandas_udf (Series, Series) -> Series[double] wrapping
    difflib.SequenceMatcher.ratio() on normalized terms — bit-identical
    to rules.similarity so the 0.85 threshold behaves exactly like the
    reference's fuzzy matcher."""
    import pandas as pd

    @pandas_udf("double")
    def _ratio(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [rules.similarity(x or "", y or "") for x, y in zip(a, b)]
        )

    return _ratio


# ---------------------------------------------------------------------------
# F10: name parsing
# ---------------------------------------------------------------------------


def parse_name_expr(full_name: Column) -> Column:
    """struct(given, family): last whitespace token is the family name,
    everything before it the given name; single token -> family only.

    Strip must cover ALL whitespace (strip_ws), not F.trim: trim removes
    only spaces, so a tab/newline-padded name would leave empty tokens
    at the split boundaries and yield family='' where Python
    str.strip().split() yields the real last token.  The split uses the
    same unicode class: .split() breaks on NBSP/EN-SPACE too, so plain
    \\s (ASCII in Java) would glue 'John\\xa0Smith' into one token."""
    from .cleaning import PY_WS

    stripped = strip_ws(full_name)
    parts = F.split(stripped, f"{PY_WS}+")
    n = F.size(parts)
    empty = stripped == ""  # .split() of whitespace-only -> [] branch
    given = F.when(~empty & (n >= 2), F.array_join(F.slice(parts, 1, n - 1), " ")
                   ).otherwise(F.lit(""))
    family = F.when(empty, full_name).otherwise(F.element_at(parts, -1))
    return F.struct(given.alias("given"), family.alias("family"))


# ---------------------------------------------------------------------------
# F11: ordered first-match substring code lookup
# ---------------------------------------------------------------------------

SNOMED_CODES = rules.SNOMED_CODES
LOINC_CODES = rules.LOINC_CODES


def code_lookup_expr(text: Column,
                     code_map: list[tuple[str, str]]) -> Column:
    """First map entry whose key is a substring of lower(text) ->
    struct(code, display=key.title()); null if none.  Ordered
    when-chain: first-match-wins like the reference's dict iteration."""
    low = F.lower(text)
    expr = F.lit(None).cast("struct<code:string,display:string>")
    for key, code in reversed(code_map):
        expr = F.when(
            low.contains(key),
            F.struct(F.lit(code).alias("code"), F.lit(key.title()).alias("display")),
        ).otherwise(expr)
    return expr


def code_lookup_join(df: DataFrame, text_col: str,
                     code_map: list[tuple[str, str]],
                     out_col: str = "code") -> DataFrame:
    """Broadcast-join variant of code_lookup_expr for code maps too large
    for a when-chain: broadcast the map, contains-residual join, keep the
    lowest-priority-index match (first-match-wins)."""
    spark = df.sparkSession
    codes = spark.createDataFrame(
        [(i, k, c, k.title()) for i, (k, c) in enumerate(code_map)],
        ["_prio", "_key", "_code", "_display"],
    )
    # resolve first-match per DISTINCT text value, then equi-join back:
    # grouping by every input column would collapse duplicate rows
    # (multiplicity bug) and fails on non-groupable (map) columns
    keys = df.select(F.lower(F.col(text_col)).alias("_low")).distinct()
    best = (
        keys.join(F.broadcast(codes), F.col("_low").contains(F.col("_key")), "left")
        .groupBy("_low")
        .agg(F.min(F.struct("_prio", "_code", "_display")).alias("_best"))
    )
    return (
        df.join(best, F.lower(F.col(text_col)) == best["_low"], "left")
        .withColumn(
            out_col,
            F.when(
                F.col("_best._code").isNotNull(),
                F.struct(
                    F.col("_best._code").alias("code"),
                    F.col("_best._display").alias("display"),
                ),
            ),
        )
        .drop("_low", "_best")
    )


# ---------------------------------------------------------------------------
# F9: unclear marking
# ---------------------------------------------------------------------------


def mark_unclear_expr(best_guess: Column, confidence: Column) -> Column:
    """'[UNCLEAR: guess]' when conf >= 0.3 and a guess exists, else
    '[ILLEGIBLE]' (variant_preservation.py:170-185)."""
    return F.when(
        (confidence < 0.3) | best_guess.isNull() | (best_guess == ""),
        F.lit("[ILLEGIBLE]"),
    ).otherwise(F.concat(F.lit("[UNCLEAR: "), best_guess, F.lit("]")))


# ---------------------------------------------------------------------------
# F8: variant preservation
# ---------------------------------------------------------------------------


def variant_lookup(terms: DataFrame, term_col: str,
                   dictionary: list[str] | None = None) -> DataFrame:
    """Attach TextVariant fields (variant_preservation.py:126-168):
    alternatives from the known-variants map + difflib close matches
    against `dictionary`, order-preserving case-insensitive dedup,
    decision string.  Known-variant hits come from a broadcast join on
    lower(term); close matches run in one Arrow-batched pandas UDF."""
    import pandas as pd

    spark = terms.sparkSession
    kv_rows = [(k, list(v)) for k, v in rules.KNOWN_VARIANTS.items()]
    kv = spark.createDataFrame(kv_rows, ["_kv_term", "_kv_alts"])

    df = terms.join(
        F.broadcast(kv), F.lower(F.col(term_col)) == F.col("_kv_term"), "left"
    )

    dico = [d.lower() for d in dictionary] if dictionary else []

    @pandas_udf("array<string>")
    def _close(col: pd.Series) -> pd.Series:
        from difflib import get_close_matches

        if not dico:
            return pd.Series([[] for _ in col])
        return pd.Series(
            [
                get_close_matches((t or "").lower(), dico, n=3, cutoff=0.8)
                if (t or "").lower() not in dico
                else []
                for t in col
            ]
        )

    close = _close(F.col(term_col)) if dico else F.array().cast("array<string>")
    alts_raw = F.concat(
        F.coalesce(F.col("_kv_alts"), F.array().cast("array<string>")), close
    )
    # order-preserving case-insensitive dedup: keep first occurrence of
    # each lower(alt) -- aggregate carries (seen_keys, kept) through the fold
    alts = F.aggregate(
        alts_raw,
        F.struct(
            F.array().cast("array<string>").alias("seen"),
            F.array().cast("array<string>").alias("kept"),
        ),
        lambda acc, x: F.when(
            F.array_contains(acc["seen"], F.lower(x)),
            acc,
        ).otherwise(
            F.struct(
                F.concat(acc["seen"], F.array(F.lower(x))).alias("seen"),
                F.concat(acc["kept"], F.array(x)).alias("kept"),
            )
        ),
        lambda acc: acc["kept"],
    )
    out = df.withColumn("alternatives", alts).drop("_kv_term", "_kv_alts")
    out = out.withColumn(
        "decision",
        F.when(F.size("alternatives") > 0, F.lit("multiple_variants")).otherwise(
            F.lit("raw_preserved")
        ),
    )
    return out
