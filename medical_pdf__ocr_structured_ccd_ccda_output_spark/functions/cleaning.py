"""Whitespace helpers other stages use, in the regex dialect Java and
DuckDB's RE2 share, plus the input-filename sanitizer.

Cleaning itself runs ``rules.clean_text`` in ``operators/extract.py``'s
Arrow UDF.

Note on regex dialects: where rules.py uses Python `\\s` (unicode-aware
on str patterns), the Spark expressions use the PY_WS class below —
Java `\\s` is ASCII-only and would diverge on NBSP/NEL/Z* whitespace.
"""

from __future__ import annotations

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
