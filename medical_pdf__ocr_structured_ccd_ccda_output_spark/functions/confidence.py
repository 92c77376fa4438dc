"""Confidence estimator as a single JVM column expression — the
reference twin of rules.score_confidence, which extraction itself runs
in operators/extract.py's Arrow UDF.  The contract queries and the
parity tests run this one.

Bit-identical to rules.score_confidence (ocr_service.py:304-364
semantics): same float64 operation order, banker's rounding via
F.bround (Spark HALF_EVEN == Python round).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import rules
from .cleaning import PY_WS


def _count_substring(text: Column, needle: str) -> Column:
    """Non-overlapping substring count, like Python str.count."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def confidence_expr(text: Column, rounded: bool = True) -> Column:
    """rounded=False skips the final bround — used by the DuckDB-oracled
    entry queries where both engines compute the identical unrounded
    float64 (rounding-mode differences would be the only divergence)."""
    length = F.length(text)
    low = F.lower(text)

    unclear = _count_substring(text, "[UNCLEAR")

    hw = None
    for ind in rules.HANDWRITING_CONF_INDICATORS:
        term = low.contains(ind).cast("int")
        hw = term if hw is None else (hw + term)

    ambiguous = F.length(text) - F.length(F.translate(text, "lI1O0", ""))
    total = F.length(F.translate(text, " \n", ""))

    newlines = F.length(text) - F.length(F.replace(text, F.lit("\n"), F.lit("")))

    # Python str.split() + isupper() analog, in the regex dialect Java
    # and DuckDB's RE2 share (the oracle SQL uses the same two patterns
    # verbatim).  Split class = cleaning.PY_WS (ASCII \s + \x0b-explicit
    # for RE2 + \x1c-\x1f + \x85 + \p{Z}) == Python str.split()
    # whitespace.  isupper() = at least
    # one \p{Lu} and no \p{Ll}/\p{Lt} cased chars — 'O:P"ñ' is NOT an
    # abbreviation (ñ is cased lowercase); an earlier ASCII-only [^a-z]
    # class let it through, caught by tests/test_property_parity.py.
    # (Residual divergence from Python isupper(): Other_Uppercase /
    # Other_Lowercase chars like circled letters — outside the corpus.)
    abbrevs = F.size(
        F.filter(
            F.split(text, f"{PY_WS}+"),
            lambda w: (F.length(w) >= 2) & (F.length(w) <= 5)
            & w.rlike(r"^[^\p{Ll}\p{Lt}]*\p{Lu}[^\p{Ll}\p{Lt}]*$"),
        )
    )

    # Linear form: every feature appears exactly once.  A naive
    # when(cond, c - x).otherwise(c) chain embeds the running expression
    # twice per step (2^n copies of every feature by the end) and the
    # interpreted-lambda abbrev filter then dominates runtime.  Instead
    # each step applies an identity element on the false branch
    # (x - 0.0 == x, x * 1.0 == x bit-exactly for our value domain), so
    # the float sequence matches rules.score_confidence operation-for-
    # operation while the expression tree stays linear.
    pen_unclear = F.when(
        unclear > 0, F.least(F.lit(0.40), unclear * F.lit(0.15))
    ).otherwise(F.lit(0.0))
    pen_hw = F.when(
        hw > 0, F.least(F.lit(0.15), hw * F.lit(0.05))
    ).otherwise(F.lit(0.0))
    pen_ambig = F.when(
        (total > 0) & (ambiguous.cast("double") / total > F.lit(0.15)),
        F.lit(0.08),
    ).otherwise(F.lit(0.0))
    short_mult = F.when(length < 50, F.lit(0.85)).otherwise(F.lit(1.0))
    long_bonus = F.when(
        (length > 500) & (newlines > 10), F.lit(0.05)
    ).otherwise(F.lit(0.0))
    abbrev_pen = F.when(abbrevs > 5, F.lit(0.05)).otherwise(F.lit(0.0))

    c = (F.lit(0.70) - pen_unclear - pen_hw - pen_ambig) * short_mult + long_bonus
    c = F.when(
        low.contains("blocked") | low.contains("safety filter"), F.lit(0.15)
    ).otherwise(c)
    c = c - abbrev_pen

    cap = F.when(text.contains("[UNCLEAR"), F.lit(0.75)).otherwise(F.lit(0.85))
    conf = F.least(cap, F.greatest(F.lit(0.15), c))
    if rounded:
        conf = F.bround(conf, 2)
    return F.when(text.isNull() | (length < 10), F.lit(0.0)).otherwise(conf)
