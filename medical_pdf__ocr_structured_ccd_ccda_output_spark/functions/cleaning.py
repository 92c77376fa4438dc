"""Main-content extraction: one production implementation of
rules.clean_text and one JVM reference twin (tested equal per turn).

* ``clean_text_pandas_udf`` — THE extractor (``extract_turns``): an
  Arrow-batched pandas UDF running ``rules.clean_text`` itself.
* ``clean_text_expr`` — the pure-JVM twin built from higher-order array
  functions (whole-stage codegen, no Python).  It is the reference the
  ``clean_extract`` contract query, ``bench.py`` and the parity tests
  use; no pipeline stage runs it.

Note on regex dialects: where rules.py uses Python `\\s` (unicode-aware
on str patterns), the Spark expressions use the PY_WS class below —
Java `\\s` is ASCII-only and would diverge on NBSP/NEL/Z* whitespace.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import rules


# Java/RE2 class equal to Python's str whitespace set (str.isspace():
# ASCII \s + \x0b-explicit for RE2 + file/group/record/unit separators
# + NEL + all Unicode Z*).  Single source: rules.py, next to the
# dialect-export note.  Callers of strip_ws mirror Python
# .strip()/.split(), which are unicode-aware, so plain \s (ASCII-only
# in Java) under-strips NBSP/EN-SPACE inputs.
PY_WS = rules.PY_WS_PORTABLE
PY_NONWS = rules.PY_NONWS_PORTABLE


def strip_ws(col: Column) -> Column:
    """Python str.strip() analog (full unicode whitespace, both ends)."""
    return F.regexp_replace(
        F.regexp_replace(col, f"^{PY_WS}+", ""), f"{PY_WS}+$", ""
    )


def clean_text_expr(text: Column) -> Column:
    lines = F.split(text, "\n")
    # engine_portable: the boilerplate spec's \s/\S are Python-unicode;
    # a '\xa0===' ruler line must still be dropped under Java regex
    kept = F.filter(
        lines,
        lambda l: ~l.rlike(rules.java_portable(rules.BOILERPLATE_COMBINED)),
    )
    # PY_WS, not \s: rules.clean_text trims with Python re (unicode-
    # aware), so an NBSP-padded line end must strip here too
    trimmed = F.transform(kept, lambda l: F.regexp_replace(l, f"{PY_WS}+$", ""))
    joined = F.array_join(trimmed, "\n")
    collapsed = F.regexp_replace(joined, r"\n{3,}", "\n\n")
    stripped = F.regexp_replace(
        F.regexp_replace(collapsed, r"^\n+", ""), r"\n+$", ""
    )
    return (
        F.when(text.isNull(), F.lit(rules.EMPTY_EXTRACTION_MARKER))
        .when(~stripped.rlike(PY_NONWS), F.lit(rules.EMPTY_EXTRACTION_MARKER))
        .otherwise(stripped)
    )


def clean_text_pandas_udf():
    """Arrow-batched extractor UDF, the one ``extract_turns`` runs (same
    semantics as clean_text_expr — tested equal).  Shares
    rules.clean_text with the pytest oracle, and the ArrowEvalPython
    node doubles as a materialization barrier for the expensive
    cleaning step (see operators/extract.py)."""
    from pyspark.sql import types as T

    def _clean(s: pd.Series) -> pd.Series:
        return s.map(rules.clean_text)

    return F.pandas_udf(_clean, T.StringType())


def layout_hints_expr(text: Column) -> Column:
    """struct<has_tables,has_handwriting> (ocr_service.py:473-488)."""
    return F.struct(
        (text.contains("|") | text.contains("      ")).alias("has_tables"),
        text.contains("[UNCLEAR").alias("has_handwriting"),
    )


def sanitize_base_name_expr(path: Column) -> Column:
    """F12 (main.py:53): input filename -> safe base output name.
    Path(...).stem semantics (strip directory and the LAST extension;
    a leading-dot-only name keeps its dot, like pathlib), then
    spaces -> underscores and parentheses removed."""
    stem = F.element_at(F.split(path, "/"), -1)
    # (.)\.[^.]+$ : strip the last suffix only when something precedes
    # the dot (Path('.txt').stem == '.txt') AND at least one char
    # follows it (Path('a.').stem == 'a.' — pathlib treats a trailing
    # dot as no suffix) — same RE2-safe form the DuckDB oracle uses
    stem = F.regexp_replace(stem, r"(.)\.[^.]+$", r"$1")
    out = F.replace(stem, F.lit(" "), F.lit("_"))
    out = F.replace(out, F.lit("("), F.lit(""))
    return F.replace(out, F.lit(")"), F.lit(""))
