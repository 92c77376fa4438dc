"""Shared deterministic rule spec — the single source of truth.

Every constant and pure-Python function here defines the *semantics* of
both the pure-Python reference oracle (pytest golden producer) and the
Spark pipeline.  The per-turn extraction rules and the corpus word-text
rules run in Spark as written, through operators/extract.py's Arrow UDF
(``rules_udf``); the other rules (entities, dedup, lookups) have Spark
column-expression or pandas-UDF implementations, tested equal to the
functions here.  The per-row invariant of the project is per-turn
equality with the oracle.

Rule provenance (reference repo, studied for behavior only — no code reuse):
  - confidence estimator      -> src/services/ocr_service.py:304-364
  - uncertain-token passes    -> src/services/ocr_service.py:366-420
  - review flags / reasons    -> src/services/ocr_service.py:422-471
  - layout hints              -> src/services/ocr_service.py:473-488
  - visit boundary patterns   -> src/services/chunking_service.py:20-27
  - date extraction           -> src/services/chunking_service.py:119-156
  - section headers           -> src/services/chunking_service.py:29-42 and
                                 ocr_service.py:592-598 (MEDICAL_SECTIONS)
  - text normalization        -> src/services/deduplication_service.py:37-55
  - fuzzy similarity          -> src/services/deduplication_service.py:57-74
  - greedy dedup/merge        -> src/services/deduplication_service.py:101-480
  - known variants            -> src/services/variant_preservation.py:31-37
  - excerpt enrichment        -> src/services/structuring_service.py:324-383

The boilerplate-stripping extractor (clean_text) is this project's own
spec: the reference's OCR step is an LLM call, replaced here by a
deterministic layout/boilerplate pass per BASELINE.json's north star.
"""

from __future__ import annotations

import datetime
import re
from difflib import SequenceMatcher

# ---------------------------------------------------------------------------
# 1. Extraction: boilerplate stripping (this project's own deterministic spec)
# ---------------------------------------------------------------------------

# One pattern per boilerplate family.  A line is dropped when ANY pattern
# matches it.  Every pattern is anchored at the line start (^), so
# clean_text applies them with re.match, which then equals re.search
# (tests/test_rules_pinned.py).  Patterns are written in the regex subset
# Python, Java and RE2 share, so one string serves re.match and, through
# engine_portable(), the DuckDB oracles.
BOILERPLATE_LINE_PATTERNS: list[str] = [
    r"^\s*-{2,}\s*Page\s+\d+\s*-{2,}\s*$",          # --- Page 7 ---
    r"^\s*={3,}\s*$",                                # ======= rules
    r"^\s*PAGE\s+\d+\s*$",                           # bare PAGE banners
    r"(?i)^\s*page\s+\d+\s+of\s+\d+\s*$",            # Page 3 of 12 footers
    r"(?i)^\s*(home|login|sign in|about us|contact|help|search)(\s*\|\s*\S.*)?$",
    r"(?i)^\s*(©|\(c\))\s*\d{4}.*$",            # (c) 2024 ... copyright
    r"(?i)^\s*confidential(ity notice)?\b.*$",
    r"(?i)^\s*this (document|fax|message|transmission) (is|contains|may contain)\b.*$",
    r"(?i)^\s*do not (distribute|copy|forward)\b.*$",
    r"^\s*(https?://|www\.)\S+\s*$",                 # bare URLs
    r"(?i)^\s*printed (on|by)\b.*$",
    r"(?i)^\s*electronically signed\b.*$",
]

def _scoped(p: str) -> str:
    """Turn a leading (?i) global flag into a scoped (?i:...) group so the
    alternatives can be OR-combined (Python 3.11+ and Java both accept)."""
    if p.startswith("(?i)"):
        return f"(?i:{p[4:]})"
    return f"(?:{p})"


BOILERPLATE_COMBINED = "|".join(_scoped(p) for p in BOILERPLATE_LINE_PATTERNS)
_BOILER_RE = re.compile(BOILERPLATE_COMBINED)

# --- regex dialect export -------------------------------------------------
# The patterns in this module are the PYTHON spec: on str patterns,
# Python-re \s/\S cover the full str.isspace() set (ASCII \s + \x1c-\x1f
# + NEL + NBSP + all Unicode Z*).  Java \s is ASCII-only, and DuckDB's
# RE2 \s further lacks \x0b (vertical tab) — so patterns exported to
# Spark rlike/regexp_* or to oracle SQL go through engine_portable(),
# which spells \s/\S as an explicit class meaning the same thing in
# BOTH Java and RE2 (\x0b listed explicitly for RE2; flat class — RE2
# has no nested classes).  \d and \b stay as written: they are ASCII in
# Java/RE2, and non-ASCII digits are declared outside the payload
# domain (the grammars below only ever pair \d with ASCII separators).
PY_WS_PORTABLE = r"[\s\x0b\x1c-\x1f\x85\p{Z}]"
PY_NONWS_PORTABLE = r"[^\s\x0b\x1c-\x1f\x85\p{Z}]"


def engine_portable(pat: str) -> str:
    """Java/RE2 spelling of a Python-re pattern: every bare \\s / \\S is
    replaced with the explicit Python-whitespace class (see note above).
    Only valid for patterns that keep \\s/\\S OUTSIDE character classes
    (all of this module's do)."""
    return re.sub(
        r"\\[sS]",
        lambda m: PY_WS_PORTABLE if m.group() == r"\s" else PY_NONWS_PORTABLE,
        pat,
    )


def java_portable(pat: str) -> str:
    """engine_portable + Java's UNIX_LINES flag.  Python-re (and RE2)
    treat ONLY \\n as a line terminator for `.` / multiline `^` / `$`;
    Java additionally treats \\r, \\x85, \\u2028/\\u2029 — so without
    (?d) a bare-CR payload diverges: Java (?m)^ fires after \\r (phantom
    visit boundaries) and Java `.` refuses to cross it (boilerplate
    `.*$` rules stop matching).  (?d) is Java-only; the RE2/DuckDB side
    uses engine_portable() and already has \\n-only semantics."""
    return "(?d)" + engine_portable(pat)

EMPTY_EXTRACTION_MARKER = "[UNCLEAR: no extractable content]"
_BLANK_RUN_RE = re.compile(r"\n{3,}")


def clean_text(text: str) -> str:
    """Deterministic main-content extraction for one turn payload.

    Steps (the clean_extract contract query's DuckDB oracle repeats
    them in SQL):
      1. split on '\\n'
      2. drop boilerplate lines
      3. strip trailing whitespace per line (keep leading indentation —
         tables rely on it)
      4. collapse runs of >=2 blank lines to a single blank line
      5. strip leading/trailing newlines
      6. empty result -> EMPTY_EXTRACTION_MARKER
    """
    if text is None:
        return EMPTY_EXTRACTION_MARKER
    # rstrip() strips exactly the str.isspace() set, which is Python-re \s
    kept = [ln.rstrip() for ln in text.split("\n") if not _BOILER_RE.match(ln)]
    joined = _BLANK_RUN_RE.sub("\n\n", "\n".join(kept)).strip("\n")
    if not joined.strip():
        return EMPTY_EXTRACTION_MARKER
    return joined


# ---------------------------------------------------------------------------
# 2. Confidence estimator (ocr_service.py:304-364 semantics, float64-exact)
# ---------------------------------------------------------------------------

HANDWRITING_CONF_INDICATORS = [
    "unclear", "illegible", "scribbled", "hard to read",
    "(?)", "[?]", "~~~", "***",
]


def round2(x: float) -> float:
    """Round to 2 decimals, HALF_EVEN on the shortest decimal repr.

    This matches Spark's bround (BigDecimal.valueOf(double) == shortest
    round-trip string) and the DuckDB oracles' exact integer form, so
    the engines agree bit-for-bit.  It deviates from CPython round()
    only on knife-edge doubles whose shortest repr is an exact half
    (e.g. 0.7*0.85 -> repr '0.595' -> 0.60 here, 0.59 under CPython
    round which uses the exact binary value 0.59499...).  Text
    extraction — the project's per-row invariant — is unaffected.
    """
    from decimal import ROUND_HALF_EVEN, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_EVEN))


def raw_confidence(text: str) -> float:
    """Confidence heuristic before rounding.

    Sequential float64 updates in this exact order: the DuckDB oracles
    of the confidence contract queries repeat it step for step.
    """
    if not text or len(text) < 10:
        return 0.0

    c = 0.70

    unclear_count = text.count("[UNCLEAR")
    if unclear_count > 0:
        c -= min(0.40, unclear_count * 0.15)

    low = text.lower()
    hw = sum(1 for ind in HANDWRITING_CONF_INDICATORS if ind in low)
    if hw > 0:
        c -= min(0.15, hw * 0.05)

    ambiguous = sum(text.count(ch) for ch in "lI1O0")
    total = len(text.replace(" ", "").replace("\n", ""))
    if total > 0 and ambiguous / total > 0.15:
        c -= 0.08

    if len(text) < 50:
        c *= 0.85

    if len(text) > 500 and text.count("\n") > 10:
        c += 0.05

    if "blocked" in low or "safety filter" in low:
        c = 0.15

    abbrevs = sum(1 for w in text.split() if w.isupper() and 2 <= len(w) <= 5)
    if abbrevs > 5:
        c -= 0.05

    cap = 0.85 if "[UNCLEAR" not in text else 0.75
    return min(cap, max(0.15, c))


def score_confidence(text: str) -> float:
    """raw_confidence rounded HALF_EVEN to 2 decimals (round2)."""
    return round2(raw_confidence(text))


# ---------------------------------------------------------------------------
# 3. Uncertain tokens (ocr_service.py:366-420)
# ---------------------------------------------------------------------------

AMBIGUOUS_ABBREVIATIONS: list[tuple[str, str]] = [
    ("MS", "Multiple Sclerosis OR Mitral Stenosis OR Morphine Sulfate"),
    ("PC", "Post-Cibum (after meals) OR Presenting Complaint"),
    ("RA", "Rheumatoid Arthritis OR Right Atrium"),
    ("AS", "Aortic Stenosis OR Ankylosing Spondylitis"),
    ("BS", "Bowel Sounds OR Blood Sugar OR Breath Sounds"),
]

HANDWRITING_TOKEN_INDICATORS = ["(?)", "[?]", "~~~", "possibly", "unclear", "illegible"]

MAX_UNCERTAIN_TOKENS = 20


def extract_uncertain_tokens(text: str) -> list[dict]:
    """Three ordered passes over lines, capped at 20 entries total."""
    out: list[dict] = []
    lines = text.split("\n")

    for n, line in enumerate(lines, start=1):
        if "[UNCLEAR" in line:
            f = line.find("[UNCLEAR")
            close = line.find("]", f)
            start = max(0, f - 20)
            end = min(len(line), close + 21)
            out.append({
                "line_number": n,
                "token": line[f:close + 1],
                "context": line[start:end].strip(),
                "reason": "illegible_handwriting",
            })

    for n, line in enumerate(lines, start=1):
        padded = f" {line} "
        for abbrev, meanings in AMBIGUOUS_ABBREVIATIONS:
            if f" {abbrev} " in padded:
                out.append({
                    "line_number": n,
                    "token": abbrev,
                    "context": line.strip()[:60],
                    "reason": f"ambiguous_abbreviation: {meanings}",
                })

    for n, line in enumerate(lines, start=1):
        low = line.lower()
        for ind in HANDWRITING_TOKEN_INDICATORS:
            if ind in low:
                out.append({
                    "line_number": n,
                    "token": ind,
                    "context": line.strip()[:60],
                    "reason": "handwriting_uncertainty",
                })

    return out[:MAX_UNCERTAIN_TOKENS]


# ---------------------------------------------------------------------------
# 4. Review flags + reasons (ocr_service.py:422-471)
# ---------------------------------------------------------------------------

def needs_review(confidence: float, tokens: list[dict]) -> bool:
    if confidence < 0.60:
        return True
    if len(tokens) > 5:
        return True
    if sum(1 for t in tokens if "illegible" in t["reason"]) > 2:
        return True
    return False


def review_reasons(confidence: float, tokens: list[dict], text: str) -> list[str]:
    reasons: list[str] = []
    if confidence < 0.60:
        reasons.append(f"Low OCR confidence: {confidence:.1%} (threshold: 60%)")
    if confidence < 0.75 and len(text) > 100:
        reasons.append(f"Moderate confidence on substantial content: {confidence:.1%}")
    unclear_count = text.count("[UNCLEAR")
    if unclear_count > 0:
        reasons.append(f"{unclear_count} illegible section(s) marked as [UNCLEAR]")
    hw = sum(1 for t in tokens if "handwriting" in t["reason"])
    if hw > 3:
        reasons.append(f"{hw} sections with handwriting uncertainty")
    amb = sum(1 for t in tokens if "ambiguous" in t["reason"])
    if amb > 2:
        reasons.append(f"{amb} ambiguous medical abbreviations detected")
    if len(text) < 100:
        reasons.append(
            f"Very short extraction ({len(text)} characters) - may indicate scan quality issues"
        )
    return reasons


# ---------------------------------------------------------------------------
# 5. Layout hints (ocr_service.py:473-488)
# ---------------------------------------------------------------------------

def layout_hints(text: str) -> dict:
    return {
        "has_tables": ("|" in text) or ("      " in text),  # pipe or 6 spaces
        "has_handwriting": "[UNCLEAR" in text,
    }


# ---------------------------------------------------------------------------
# 6. Visit boundaries + sessionization (chunking_service.py:20-27,44-103)
# ---------------------------------------------------------------------------

VISIT_BOUNDARY_PATTERN = (
    r"(?im)^(visit date:|date of service:|encounter date:"
    r"|admission date:|discharge date:|\d{1,2}/\d{1,2}/\d{2,4})"
)
_BOUNDARY_RE = re.compile(VISIT_BOUNDARY_PATTERN)


def is_visit_boundary(text: str) -> bool:
    return bool(_BOUNDARY_RE.search(text))


# ---------------------------------------------------------------------------
# 7. Date extraction (chunking_service.py:119-156)
# ---------------------------------------------------------------------------

DATE_PATTERNS = [
    r"(\d{1,2})[/-](\d{1,2})[/-](\d{4})",   # MM/DD/YYYY
    r"(\d{4})[/-](\d{1,2})[/-](\d{1,2})",   # YYYY-MM-DD
    r"(\d{1,2})[/-](\d{1,2})[/-](\d{2})",   # MM/DD/YY, century pivot at 50
]


_DATE_RES = [re.compile(p) for p in DATE_PATTERNS]


def _parse_date(year: str, month: str, day: str) -> datetime.date:
    """The date ``strptime(f"{year}-{month}-{day}", "%Y-%m-%d")`` gives,
    or ValueError where it raises.  On the 4-digit year and 1-2 digit
    month and day the patterns capture, ``datetime.date`` accepts and
    rejects the same ASCII digits; strptime's own grammar still decides
    for other Unicode digits (re \\d matches them, int() reads them)."""
    if (year + month + day).isascii():
        return datetime.date(int(year), int(month), int(day))
    return datetime.datetime.strptime(f"{year}-{month}-{day}",
                                      "%Y-%m-%d").date()


def extract_date(text: str) -> str | None:
    """First pattern whose first match parses wins -> 'YYYY-MM-DD' or None."""
    for i, rx in enumerate(_DATE_RES):
        m = rx.search(text)
        if not m:
            continue
        g = m.groups()
        if i == 0:
            month, day, year = g
        elif i == 1:
            year, month, day = g
        else:
            month, day, yy = g
            year = f"20{yy}" if int(yy) < 50 else f"19{yy}"
        try:
            d = _parse_date(year, month, day)
        except ValueError:
            continue
        # Explicit zero-padded ISO instead of strftime('%Y-%m-%d'):
        # glibc leaves years < 1000 unpadded ('500-01-02') while Spark
        # date_format('yyyy') and DuckDB strftime('%Y') pad — the spec
        # is the platform-independent 4-digit form all engines share.
        return f"{d.year:04d}-{d.month:02d}-{d.day:02d}"
    return None


# ---------------------------------------------------------------------------
# 8. Section segmentation (chunking_service.py:29-42 + ocr_service MEDICAL_SECTIONS)
# ---------------------------------------------------------------------------

# Canonical section names from the reference's 16-entry uppercase dictionary
MEDICAL_SECTIONS = [
    "EVALUATION", "HISTORY", "PLAN", "IMPRESSION",
    "ASSESSMENT", "SUBJECTIVE", "OBJECTIVE",
    "PAST MEDICAL HISTORY", "MEDICATIONS", "ALLERGIES",
    "VITAL SIGNS", "PHYSICAL EXAMINATION", "REVIEW OF SYSTEMS",
    "LABORATORY", "IMAGING", "PROCEDURE",
]

# Extra headers from the chunking service's regex list, mapped to a
# canonical name (this project's unification; longest-prefix tried first).
EXTRA_SECTION_HEADERS = [
    ("CHIEF COMPLAINT", "CHIEF COMPLAINT"),
    ("REASON FOR VISIT", "REASON FOR VISIT"),
    ("HISTORY OF PRESENT ILLNESS", "HISTORY OF PRESENT ILLNESS"),
    ("HPI", "HISTORY OF PRESENT ILLNESS"),
    ("PMH", "PAST MEDICAL HISTORY"),
    ("PHYSICAL EXAM", "PHYSICAL EXAMINATION"),
]


def _section_rules() -> list[tuple[str, str]]:
    """(canonical_name, line-anchored regex) pairs, order = match priority."""
    rules: list[tuple[str, str]] = []
    for name in MEDICAL_SECTIONS:
        nospace = name.replace(" ", "")
        pat = (
            r"(?i)^\s*(?:" + re.escape(name) + r"\s*:?|"
            + re.escape(nospace) + r"\s*:)\s*$"
        )
        rules.append((name, pat))
    for raw, canonical in EXTRA_SECTION_HEADERS:
        pat = r"(?i)^\s*" + re.escape(raw) + r"\s*:"
        rules.append((canonical, pat))
    return rules


SECTION_RULES = _section_rules()
# One alternation of every rule, in priority order, one named group per
# rule: at the line start the regex engine tries the branches left to
# right, so the first branch that matches is the first rule that does.
# Every rule is ^-anchored, so .match equals the rule's re.search
# (tests/test_rules_pinned.py); each is (?i), so the flag is set once.
_SECTION_NAMES = {f"r{i}": name for i, (name, _) in enumerate(SECTION_RULES)}
_SECTION_RE = re.compile(
    "|".join(f"(?P<r{i}>{pat.removeprefix('(?i)')})"
             for i, (_, pat) in enumerate(SECTION_RULES)),
    re.IGNORECASE,
)


def match_section_header(line: str) -> str | None:
    """First matching rule wins (priority = dictionary order)."""
    m = _SECTION_RE.match(line)
    return _SECTION_NAMES[m.lastgroup] if m else None


def extract_sections(text: str) -> list[dict]:
    """Header line opens a span; span ends before the next header / at EOF.

    Returns [{section, start_line, end_line, text}] (1-based inclusive
    line numbers; text = the span's lines joined with '\\n', header
    included).
    """
    lines = text.split("\n")
    headers = [(idx, name) for idx, line in enumerate(lines)
               if (name := match_section_header(line))]
    spans = []
    for j, (idx, name) in enumerate(headers):
        end = (headers[j + 1][0] - 1) if j + 1 < len(headers) else len(lines) - 1
        spans.append({
            "section": name,
            "start_line": idx + 1,
            "end_line": end + 1,
            "text": "\n".join(lines[idx:end + 1]),
        })
    return spans


# ---------------------------------------------------------------------------
# 8b. Corpus word text: normalized words, shingles, n-gram counts, quality
#     signals (this project's own corpus-operator spec)
# ---------------------------------------------------------------------------

# Java's ASCII \s class: the DuckDB oracles normalize with '[\s\x0b]+',
# and Python's unicode-aware \s / str.strip() would split on NBSP/NEL/Z*
_ASCII_WS_RE = re.compile("[ \t\n\x0b\f\r]+")
# under re.ASCII, \w = [A-Za-z0-9_] and \s = [ \t\n\x0b\f\r], as in Java
_PUNCT_RE = re.compile(r"[^\w\s]", re.ASCII)

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "this", "that",
]
_STOPSET = frozenset(STOPWORDS)


def norm_words(text: str | None) -> list[str]:
    """Lowercase, collapse ASCII whitespace runs to one space, strip
    spaces, split on spaces.  A null or blank text gives ``['']``."""
    return _ASCII_WS_RE.sub(" ", (text or "").lower()).strip(" ").split(" ")


def _grams(words: list[str], n: int) -> list[str]:
    return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]


def shingles(text: str | None, n: int) -> list[str]:
    """Distinct word n-grams in first-occurrence order; a text shorter
    than n words is one shingle of all its words."""
    words = norm_words(text)
    grams = _grams(words, n) if len(words) >= n else [" ".join(words)]
    return list(dict.fromkeys(grams))


def gram_counts(text: str | None, n: int) -> dict[str, int]:
    """Word n-gram -> occurrences; empty for a text shorter than n
    words (for n=1 a blank text counts the empty word once)."""
    counts: dict[str, int] = {}
    for g in _grams(norm_words(text), n):
        counts[g] = counts.get(g, 0) + 1
    return counts


def ws_tokens(text: str | None) -> int:
    """Whitespace tokens: ``len(text.split())``."""
    return len((text or "").split())


def quality_signals(text: str | None) -> dict:
    """Length / punctuation / stopword / word-length heuristics and the
    composite [0,1] quality score of one text.  ``n_chars`` is None for
    a null text (SQL ``length(NULL)``); every other signal reads it as
    empty.  The ratios are int/int divisions in a fixed order, so any
    engine gets the same doubles."""
    t = text or ""
    words = norm_words(t)
    n_words = len(words)  # >= 1: a blank text is one empty word
    n_chars = len(t)
    n_stop = sum(1 for w in words if w in _STOPSET)
    n_punct = n_chars - len(_PUNCT_RE.sub("", t))
    mean_wlen = sum(len(w) for w in words) / n_words
    stop_ratio = n_stop / n_words
    punct_ratio = n_punct / n_chars if n_chars > 0 else 0.0
    score = (
        min(1.0, n_words / 100)
        * (1.0 if 3 <= mean_wlen <= 10 else 0.5)
        * (1.0 if punct_ratio < 0.2 else 0.5)
        * (1.0 if stop_ratio > 0.05 else 0.8)
    )
    return {
        "n_chars": None if text is None else n_chars,
        "n_words": n_words,
        "n_tokens": ws_tokens(t),
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "mean_word_len": mean_wlen,
        "quality_score": score,
    }


# ---------------------------------------------------------------------------
# 9. Normalization + fuzzy similarity (deduplication_service.py:37-74)
# ---------------------------------------------------------------------------

FUZZY_THRESHOLD = 0.85


def normalize_term(text: str | None) -> str:
    if not text:
        return ""
    return re.sub(r"\s+", " ", text.lower()).strip()


def similarity(a: str, b: str) -> float:
    na, nb = normalize_term(a), normalize_term(b)
    if not na or not nb:
        return 0.0
    return SequenceMatcher(None, na, nb).ratio()


# ---------------------------------------------------------------------------
# 10. Greedy dedup / merge (deduplication_service.py:101-480)
# ---------------------------------------------------------------------------

MED_MERGE_FIELDS = ["dose", "frequency", "route", "start_date", "end_date"]
PROBLEM_MERGE_FIELDS = ["icd10_code", "status", "onset_date"]
RESULT_MERGE_FIELDS = ["unit", "reference_range", "abnormal_flag", "test_date"]


def merge_medications(meds: list[dict], threshold: float = FUZZY_THRESHOLD
                      ) -> tuple[list[dict], list[dict]]:
    """Greedy first-wins dedup on normalized name; returns (merged, log)."""
    merged: list[dict] = []
    log: list[dict] = []
    done: set[int] = set()
    for i, m1 in enumerate(meds):
        if i in done:
            continue
        base = dict(m1)
        pages = {m1.get("source_page")}
        group = {i}
        for j in range(i + 1, len(meds)):
            if j in done:
                continue
            m2 = meds[j]
            n1, n2 = m1.get("name", ""), m2.get("name", "")
            if normalize_term(n1) == normalize_term(n2):
                base = _complete_fields(base, m2, MED_MERGE_FIELDS, conflicts=True)
                pages.add(m2.get("source_page"))
                group.add(j)
                log.append({
                    "type": "medication", "action": "merged",
                    "reason": "exact_name_match", "item1": n1, "item2": n2,
                    "similarity": None, "threshold": threshold,
                    "source_pages": [m1.get("source_page"), m2.get("source_page")],
                })
            else:
                sim = similarity(n1, n2)
                if sim >= threshold:
                    base = _complete_fields(base, m2, MED_MERGE_FIELDS, conflicts=True)
                    alts = base.setdefault("alternative_representations", [])
                    if n2 not in alts:
                        alts.append(n2)
                    pages.add(m2.get("source_page"))
                    group.add(j)
                    log.append({
                        "type": "medication", "action": "merged",
                        "reason": "fuzzy_match", "item1": n1, "item2": n2,
                        "similarity": round(sim, 2), "threshold": threshold,
                        "source_pages": [m1.get("source_page"), m2.get("source_page")],
                    })
        base["source_pages"] = sorted(p for p in pages if p is not None)
        if len(pages) > 1:
            base["merge_confidence"] = 0.95
        merged.append(base)
        done.update(group)
    return merged, log


def merge_problems(problems: list[dict], threshold: float = FUZZY_THRESHOLD
                   ) -> tuple[list[dict], list[dict]]:
    """Greedy dedup on problem text; fuzzy keeps the LONGER representation."""
    merged: list[dict] = []
    log: list[dict] = []
    done: set[int] = set()
    for i, p1 in enumerate(problems):
        if i in done:
            continue
        base = dict(p1)
        pages = {p1.get("source_page")}
        group = {i}
        for j in range(i + 1, len(problems)):
            if j in done:
                continue
            p2 = problems[j]
            t1, t2 = p1.get("problem", ""), p2.get("problem", "")
            if normalize_term(t1) == normalize_term(t2):
                base = _complete_fields(base, p2, PROBLEM_MERGE_FIELDS, conflicts=False)
                pages.add(p2.get("source_page"))
                group.add(j)
                log.append({
                    "type": "problem", "action": "merged",
                    "reason": "exact_text_match", "item1": t1, "item2": t2,
                    "similarity": None, "threshold": threshold,
                    "source_pages": [p1.get("source_page"), p2.get("source_page")],
                })
            else:
                sim = similarity(t1, t2)
                if sim >= threshold:
                    alts = base.setdefault("alternative_representations", [])
                    if len(t2) > len(t1):
                        if base["problem"] != t2:
                            base["problem"] = t2
                        if t1 not in alts:
                            alts.append(t1)
                    else:
                        if t2 not in alts:
                            alts.append(t2)
                    base = _complete_fields(base, p2, PROBLEM_MERGE_FIELDS, conflicts=False)
                    pages.add(p2.get("source_page"))
                    group.add(j)
                    log.append({
                        "type": "problem", "action": "merged",
                        "reason": "fuzzy_match", "item1": t1, "item2": t2,
                        "similarity": round(sim, 2), "threshold": threshold,
                        "source_pages": [p1.get("source_page"), p2.get("source_page")],
                    })
        base["source_pages"] = sorted(p for p in pages if p is not None)
        merged.append(base)
        done.update(group)
    return merged, log


def merge_lab_results(results: list[dict], threshold: float = FUZZY_THRESHOLD
                      ) -> tuple[list[dict], list[dict]]:
    """Same test name (exact or fuzzy): equal values merge, unequal values
    become value_conflicts entries."""
    merged: list[dict] = []
    log: list[dict] = []
    done: set[int] = set()
    for i, r1 in enumerate(results):
        if i in done:
            continue
        base = dict(r1)
        pages = {r1.get("source_page")}
        group = {i}
        conflicts: list[dict] = list(base.get("value_conflicts") or [])
        for j in range(i + 1, len(results)):
            if j in done:
                continue
            r2 = results[j]
            t1, t2 = r1.get("test_name", ""), r2.get("test_name", "")
            same = normalize_term(t1) == normalize_term(t2)
            if not same:
                same = similarity(t1, t2) >= threshold
            if not same:
                continue
            v1, v2 = str(r1.get("value", "")), str(r2.get("value", ""))
            if normalize_term(v1) == normalize_term(v2):
                base = _complete_fields(base, r2, RESULT_MERGE_FIELDS, conflicts=False)
                log.append({
                    "type": "result", "action": "merged",
                    "reason": "same_test_same_value", "item1": t1, "item2": t2,
                    "similarity": None, "threshold": threshold,
                    "source_pages": [r1.get("source_page"), r2.get("source_page")],
                })
            else:
                conflicts.append({
                    "value": v2,
                    "unit": r2.get("unit"),
                    "source_page": r2.get("source_page"),
                })
                log.append({
                    "type": "result", "action": "conflict",
                    "reason": "same_test_value_conflict", "item1": v1, "item2": v2,
                    "similarity": None, "threshold": threshold,
                    "source_pages": [r1.get("source_page"), r2.get("source_page")],
                })
            pages.add(r2.get("source_page"))
            group.add(j)
        if conflicts:
            base["value_conflicts"] = conflicts
        base["source_pages"] = sorted(p for p in pages if p is not None)
        if len(pages) > 1:
            base["merge_confidence"] = 0.95
        merged.append(base)
        done.update(group)
    return merged, log


def _complete_fields(base: dict, other: dict, fields: list[str],
                     conflicts: bool) -> dict:
    out = dict(base)
    for k in fields:
        bv, ov = out.get(k), other.get(k)
        if not bv and ov:
            out[k] = ov
        elif conflicts and bv and ov and bv != ov:
            vc = out.setdefault("value_conflicts", {})
            if k not in vc:
                vc[k] = [bv, ov]
    return out


# ---------------------------------------------------------------------------
# 11. Known variants (variant_preservation.py:31-37) + unclear marking
# ---------------------------------------------------------------------------

KNOWN_VARIANTS = {
    "polydypsia": ["polydipsia"],
    "hypoglycemia": ["hypoglycaemia"],
    "oesophagus": ["esophagus"],
    "haemoglobin": ["hemoglobin"],
}


def mark_unclear(best_guess: str | None, confidence: float | None) -> str:
    """A missing confidence is not below the 0.3 cut: SQL's three-valued
    ``confidence < 0.3`` is null there, so the guess is kept."""
    if (confidence is not None and confidence < 0.3) or not best_guess:
        return "[ILLEGIBLE]"
    return f"[UNCLEAR: {best_guess}]"


def term_variants(term: str | None,
                  dictionary: list[str] | None = None) -> dict:
    """Variant preservation (variant_preservation.py:126-168): known-
    variant dict first, then difflib close matches (n=3, cutoff=0.8)
    when the term is not already in the dictionary; order-preserving
    case-insensitive dedup."""
    from difflib import get_close_matches

    alternatives: list[str] = []
    tl = (term or "").lower()
    if tl in KNOWN_VARIANTS:
        alternatives.extend(KNOWN_VARIANTS[tl])
    if dictionary and tl not in [d.lower() for d in dictionary]:
        alternatives.extend(
            get_close_matches(tl, [d.lower() for d in dictionary], n=3, cutoff=0.8)
        )
    seen: set[str] = set()
    alternatives = [
        x for x in alternatives if x.lower() not in seen and not seen.add(x.lower())
    ]
    return {
        "alternatives": alternatives,
        "decision": "multiple_variants" if alternatives else "raw_preserved",
    }


# ---------------------------------------------------------------------------
# 11b. Name parsing + code lookup (xml_renderer_v2.py:653-676)
# ---------------------------------------------------------------------------

SNOMED_CODES = [
    ("polyuria", "284121005"),
    ("polydipsia", "267064002"),
    ("anxiety", "48694002"),
    ("hypoglycemia", "302866003"),
    ("diabetes insipidus", "15771004"),
]

LOINC_CODES = [
    ("glucose", "2345-7"),
    ("24-hour urine volume", "3167-4"),
    ("urine specific gravity", "2965-2"),
]


def parse_name(full_name: str | None) -> dict:
    """Last token = family, rest = given (xml_renderer_v2.py:653-662).
    A blank or missing name keeps itself as the family name."""
    parts = (full_name or "").split()
    if len(parts) == 1:
        return {"given": "", "family": parts[0]}
    if len(parts) >= 2:
        return {"given": " ".join(parts[:-1]), "family": parts[-1]}
    return {"given": "", "family": full_name}


def find_code(text: str | None,
              code_map: list[tuple[str, str]]) -> tuple | None:
    """Ordered first-match substring lookup (xml_renderer_v2.py:664-676)."""
    low = (text or "").lower()
    for key, code in code_map:
        if key in low:
            return (code, key.title())
    return None


# ---------------------------------------------------------------------------
# 12. Excerpt enrichment (structuring_service.py:324-383)
# ---------------------------------------------------------------------------

def find_excerpt(lines: list[str], needle: str) -> dict:
    """First line containing needle (case-insensitive) -> line no + 60-char
    excerpt starting 10 chars before the hit."""
    if not needle or needle in ("N/A", "null"):
        return {}
    nl = needle.lower()
    for n, line in enumerate(lines, start=1):
        pos = line.lower().find(nl)
        if pos >= 0:
            start = max(0, pos - 10)
            end = min(len(line), start + 60)
            return {"source_line": n, "source_excerpt": line[start:end].strip()[:60]}
    return {}


# ---------------------------------------------------------------------------
# 13. Vitals / allergies / plan extraction (deterministic structuring
#     analog for canonical_schema.py:64-94,140-180; the reference fills
#     these via its LLM structuring call, so the line grammar below is
#     this project's own spec, like clean_text)
# ---------------------------------------------------------------------------

# canonical vital keys follow VitalSigns (canonical_schema.py:81-94)
VITAL_LABEL_MAP: list[tuple[str, str]] = [
    ("blood pressure", "blood_pressure"), ("bp", "blood_pressure"),
    ("temperature", "temperature"), ("temp", "temperature"),
    ("heart rate", "heart_rate"), ("hr", "heart_rate"),
    ("pulse", "heart_rate"),
    ("respiratory rate", "respiratory_rate"), ("rr", "respiratory_rate"),
    ("oxygen saturation", "oxygen_saturation"),
    ("o2 sat", "oxygen_saturation"), ("spo2", "oxygen_saturation"),
    ("weight", "weight"), ("wt", "weight"),
    ("height", "height"), ("ht", "height"),
    ("bmi", "bmi"),
]

# label [:=| ] value [/ value2] [unit] [trailing annotation]
# unit alternation = VitalSignUnit / TemperatureUnit enum values
# (enums.py:56-76); anything else (±5, arrows, prose) is tolerated as
# a trailing annotation and ignored
VITAL_UNITS = ["breaths/min", "mmHg", "bpm", "lbs", "kg", "cm", "in",
               "%", "F", "C"]
VITAL_LINE_PATTERN = (
    r"^\s*([A-Za-z][A-Za-z0-9 ]*?)(?:\s*[:=]\s*|\s+)(\d+(?:\.\d+)?)"
    r"(?:\s*/\s*(\d+(?:\.\d+)?))?"
    r"(?:\s+(" + "|".join(re.escape(u) for u in VITAL_UNITS) + r"))?"
    r"(?:\s+.*)?\s*$"
)
_VITAL_LINE_RE = re.compile(VITAL_LINE_PATTERN)

# BloodPressure validation ranges (canonical_schema.py:75-76)
BP_SYSTOLIC_RANGE = (40.0, 300.0)
BP_DIASTOLIC_RANGE = (20.0, 200.0)


def parse_vital_line(line: str | None) -> dict | None:
    """One vitals-section line -> canonical vital dict, or None.

    blood_pressure needs the slash form and carries (systolic, diastolic,
    bp_valid) with the schema's 40-300 / 20-200 range check; every other
    vital carries a single `value`.  Unknown labels are skipped."""
    m = _VITAL_LINE_RE.match(line or "")
    if not m:
        return None
    label, v1, v2, unit = m.groups()
    norm = normalize_term(label)
    canonical = next((c for k, c in VITAL_LABEL_MAP if norm == k), None)
    if canonical is None:
        return None
    if canonical == "blood_pressure":
        if v2 is None:
            return None
        sys_v, dia_v = float(v1), float(v2)
        return {
            "vital_name": "blood_pressure", "value": None,
            "systolic": sys_v, "diastolic": dia_v,
            "unit": unit or "mmHg",
            "bp_valid": (BP_SYSTOLIC_RANGE[0] <= sys_v <= BP_SYSTOLIC_RANGE[1]
                         and BP_DIASTOLIC_RANGE[0] <= dia_v <= BP_DIASTOLIC_RANGE[1]),
        }
    if v2 is not None:
        return None  # slash form only valid for blood pressure
    return {
        "vital_name": canonical, "value": float(v1),
        "systolic": None, "diastolic": None, "unit": unit,
        "bp_valid": True,
    }


BULLET_PREFIX_PATTERN = r"^\s*(?:[-*•]\s*|\d+[.)]\s*)?"
ALLERGY_NEGATIONS = {"none", "nkda", "no known allergies",
                     "no known drug allergies"}


def parse_allergy_line(line: str | None) -> str | None:
    """Allergy-section line -> substance string (bullets stripped), or
    None for empties / explicit no-allergy markers (allergies are plain
    strings in the schema, canonical_schema.py:174)."""
    s = re.sub(BULLET_PREFIX_PATTERN, "", line or "").strip()
    if not s or normalize_term(s) in ALLERGY_NEGATIONS:
        return None
    return s


# ordered first-match substring rules -> PlanCategory (enums.py:42-50)
PLAN_CATEGORY_RULES: list[tuple[str, str]] = [
    ("refer", "referral"),
    ("follow", "followup"),
    ("order", "diagnostic"),
    ("check", "diagnostic"),
    ("start", "medication"),
    ("continue", "medication"),
    ("increase", "medication"),
    ("decrease", "medication"),
    ("prescri", "medication"),
    ("diet", "lifestyle"),
    ("exercise", "lifestyle"),
    ("schedule", "procedure"),
]


def categorize_plan_action(action: str) -> str:
    low = action.lower()
    for key, cat in PLAN_CATEGORY_RULES:
        if key in low:
            return cat
    return "other"


def parse_plan_line(line: str | None) -> dict | None:
    """Plan-section line -> {action, category} (PlanItem,
    canonical_schema.py:140-145), or None for empties."""
    s = re.sub(BULLET_PREFIX_PATTERN, "", line or "").strip()
    if not s:
        return None
    return {"action": s, "category": categorize_plan_action(s)}


def merge_simple(records: list[dict], key_field: str, fields: list[str],
                 threshold: float = FUZZY_THRESHOLD, type_name: str = "item"
                 ) -> tuple[list[dict], list[dict]]:
    """Generic greedy first-wins merge on `key_field` — the
    merge_medications shape parameterized for allergy / plan entities
    (the reference dedups only meds/problems/labs; this extends the same
    exact+fuzzy semantics to the remaining list-typed visit fields)."""
    merged: list[dict] = []
    log: list[dict] = []
    done: set[int] = set()
    for i, e1 in enumerate(records):
        if i in done:
            continue
        base = dict(e1)
        # None pages must not count toward the multi-page merge-confidence
        # bump below (an entity without a source_page merging with one that
        # has a page is still a single-page merge).
        pages = {p for p in (e1.get("source_page"),) if p is not None}
        group = {i}
        for j in range(i + 1, len(records)):
            if j in done:
                continue
            e2 = records[j]
            k1, k2 = e1.get(key_field, ""), e2.get(key_field, "")
            exact = normalize_term(k1) == normalize_term(k2)
            sim = None if exact else similarity(k1, k2)
            if not exact and (sim is None or sim < threshold):
                continue
            base = _complete_fields(base, e2, fields, conflicts=False)
            if not exact:
                alts = base.setdefault("alternative_representations", [])
                if k2 not in alts:
                    alts.append(k2)
            if e2.get("source_page") is not None:
                pages.add(e2.get("source_page"))
            group.add(j)
            log.append({
                "type": type_name, "action": "merged",
                "reason": "exact_name_match" if exact else "fuzzy_match",
                "item1": k1, "item2": k2,
                "similarity": None if exact else round(sim, 2),
                "threshold": threshold,
                "source_pages": [e1.get("source_page"), e2.get("source_page")],
            })
        base["source_pages"] = sorted(p for p in pages if p is not None)
        if len(pages) > 1:
            base["merge_confidence"] = 0.95
        merged.append(base)
        done.update(group)
    return merged, log


# ---------------------------------------------------------------------------
# 14. Ingest validation / quarantine (P1, pdf_service.py:28-99 analog:
#     size / page-count / emptiness / encryption checks become
#     per-conversation predicates; violations quarantine the conversation
#     instead of aborting the run)
# ---------------------------------------------------------------------------

MAX_TURNS_PER_CONV = 100              # max_page_count analog
MAX_CONV_CHARS = 50 * 1024 * 1024     # 50MB max_file_size analog
ENCRYPTED_MARKER = "[ENCRYPTED]"      # password-protected analog


def conversation_warnings(n_turns: int, total_chars: int,
                          n_nonempty: int, has_encrypted: bool) -> list[str]:
    """Ordered warning codes for one conversation; non-empty => quarantine."""
    w = []
    if has_encrypted:
        w.append("encrypted")
    if n_turns > MAX_TURNS_PER_CONV:
        w.append("too_many_pages")
    if total_chars > MAX_CONV_CHARS:
        w.append("file_too_large")
    if n_nonempty == 0:
        w.append("no_pages")
    return w


# ---------------------------------------------------------------------------
# 15. Visit schema validation (canonical_schema.py:182-208,286-292):
#     raising Pydantic validators become warning codes
# ---------------------------------------------------------------------------

SUPPORTED_SCHEMA_VERSION = "2.0"


def visit_warnings(visit_id: str | None, confidence: float | None,
                   page_count: int | None,
                   schema_version: str | None = SUPPORTED_SCHEMA_VERSION
                   ) -> list[str]:
    """Ordered warning codes for one visit row; empty = valid.  A
    missing visit_id or confidence is flagged; a missing page count or
    schema version is not (neither can be compared)."""
    w = []
    if not (visit_id or "").startswith("visit_"):
        w.append("invalid_visit_id")
    if confidence is None or confidence < 0.0 or confidence > 1.0:
        w.append("confidence_out_of_range")
    if page_count is not None and page_count < 1:
        w.append("no_source_pages")
    if schema_version is not None and schema_version != SUPPORTED_SCHEMA_VERSION:
        w.append("unsupported_schema_version")
    return w


# ---------------------------------------------------------------------------
# 16. Visit-level text fields (the reference's LLM structuring fills
#     reason_for_visit / history_of_present_illness / assessment from
#     the corresponding note sections; deterministic analog = the
#     section span's body text, canonical_schema.py:168-171,179)
# ---------------------------------------------------------------------------

VISIT_TEXT_SECTIONS = {
    "CHIEF COMPLAINT": "reason_for_visit",
    "REASON FOR VISIT": "reason_for_visit",
    "HISTORY OF PRESENT ILLNESS": "history_of_present_illness",
    "ASSESSMENT": "assessment",
}


# ---------------------------------------------------------------------------
# 17. Encounter-type inference (EncounterType enum, enums.py:16-22;
#     the reference's structuring LLM fills this — deterministic analog
#     is an ordered first-match keyword scan of the turn text)
# ---------------------------------------------------------------------------

ENCOUNTER_TYPE_RULES: list[tuple[str, str]] = [
    ("emergency", "emergency"), ("er visit", "emergency"),
    ("telehealth", "telehealth"), ("phone visit", "telehealth"),
    ("video visit", "telehealth"),
    ("discharge", "inpatient"), ("admitted", "inpatient"),
    ("admission", "inpatient"), ("inpatient", "inpatient"),
    ("office visit", "outpatient"), ("clinic", "outpatient"),
    ("follow-up", "outpatient"), ("follow up", "outpatient"),
]


def infer_encounter_type(text: str | None) -> str:
    low = (text or "").lower()
    for key, enc in ENCOUNTER_TYPE_RULES:
        if key in low:
            return enc
    return "unknown"


# ---------------------------------------------------------------------------
# 18. DataQuality (canonical_schema.py:211-233): completeness over the
#     canonical section vocabulary, unclear-section markers, and the
#     critical fields whose absence is worth flagging
# ---------------------------------------------------------------------------

EXPECTED_SECTIONS = sorted(
    set(MEDICAL_SECTIONS) | {c for _, c in EXTRA_SECTION_HEADERS}
)
CRITICAL_SECTIONS = ["ALLERGIES", "ASSESSMENT", "MEDICATIONS", "PLAN"]
