"""Pins the per-turn rule outputs, and the anchoring the rule matchers
rely on.

The Spark path and the oracle both run ``rules.py``, so the parity
tests cannot see a change to ``rules.py`` that changes what a rule
returns.  ``test_extract_turn_outputs_pinned`` hashes the canonical
JSON of ``reference_oracle.extract_turn`` over fixed inputs: seeded
fixture turns, hand-written edge cases and seeded fuzz strings.  The
digest was recorded before the matchers were rewritten to apply the
rule patterns with ``re.match``, one section alternation, ``rstrip``
and ``datetime.date``.  A change that means to change a rule output
records a new digest and says why.
"""

import hashlib
import json
import random
from re import _constants, _parser

from medical_pdf__ocr_structured_ccd_ccda_output_spark import (
    fixtures,
    reference_oracle,
    rules,
)

EXTRACT_TURN_DIGEST = (
    "d8c9d3309ef89d7e9191aa38c43616e748bd60584d9da0400cb4af3109252f21"
)

EDGE_CASES = [
    None, "", " ", "\n", "\n\n\n", "\t \x0b\x0c\r",
    # Python whitespace that Java / RE2 \s leave out
    "PLAN\x0b\nfollow up in 2 weeks\x1c\n\x85",
    "\xa0\xa0HISTORY\xa0\nnotes\xa0 \nVisit Date: 03/15/2024\r",
    "Page 3 of 12\r\n--- Page 3 ---\x85\nreal line\r\r\n",
    "  --- Page 7 ---  \n=====\x0b\nPAGE 12\x1c\nbody",
    "(c) 2024 Hospital\n© 2023 X\nCONFIDENTIAL\nconfidentiality notice x",
    "https://x.test/a \nwww.x.test\nhttp://a b\nHome | About\nlogin",
    "This fax is private\nDo not copy\nPrinted by EHR\nElectronically signed",
    # dates
    "02/29/2023", "02/29/2024", "0000-01-01", "0001-01-01 and 9999-12-31",
    "99/99/2024 then 04/01/2024", "13/01/2024", "00/10/2024", "1/1/50",
    "12/31/49", "2024-02-30 then 2024-02-28", "31-12-99", "7/4/2023",
    "٣/١/2024", "2024-١-1٣", "1٣/1/24",
    "１/2/2024",
    # section header collisions
    "HISTORY\nPAST MEDICAL HISTORY\nPast medical history:\nhistory :",
    "PHYSICAL EXAM:\nPHYSICAL EXAMINATION\nphysical exam\nPhysicalExam:",
    "pastmedicalhistory:\npastmedicalhistory\nPASTMEDICALHISTORY :",
    "HPI: x\nHPI\nPMH:\nCHIEF COMPLAINT: cough\nREASON FOR VISIT:",
    "  VITAL SIGNS  \nBP 120/80\nvitalsigns:\nREVIEW OF SYSTEMS:\x0b",
    "HISTORY OF PRESENT ILLNESS: pain\nHISTORY OF PRESENT ILLNESS",
    # uncertainty triggers
    "[UNCLEAR: dose] MS and PC, RA AS BS (?) [?] ~~~ possibly illegible",
    "MS\nPC\n[UNCLEAR\nUnclear ILLEGIBLE Possibly",
    "İllegible K ΣΣ unclear",
]


def _fuzz_strings(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    frags = [
        "[UNCLEAR: xy]", "Page 3 of 9", "--- Page 2 ---", "|", "      ",
        "Visit Date: ", "03/15/2024", "2024-3-5", "12/31/99", "HISTORY",
        "PAST MEDICAL HISTORY", "Physical Exam:", "pmh:", "PLAN", "MS",
        "~~~", "(?)", "\n", "\n\n\n", "\r\n", "(c) 2024", "www.a.b",
        "Confidential", "unclear", "illegible", "٣", "İ",
    ]
    alphabet = ("abcXYZ019/-:| \t\r\x0b\x0c\x1c\x85\xa0　"
                "éΣK")
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(0, 10)):
            if rng.random() < 0.5:
                parts.append(rng.choice(frags))
            else:
                parts.append("".join(rng.choice(alphabet)
                                     for _ in range(rng.randint(0, 12))))
        out.append("".join(parts))
    return out


def _inputs() -> list[str | None]:
    texts: list[str | None] = []
    for seed in (1, 2, 3, 5):
        texts += [r["text"] for r in
                  fixtures.generate_transcripts(60, seed=seed, shuffle=False)]
    return texts + EDGE_CASES + _fuzz_strings(3000, seed=14)


def extract_turn_digest() -> str:
    h = hashlib.sha256()
    for text in _inputs():
        row = reference_oracle.extract_turn(text)
        h.update(json.dumps(row, sort_keys=True).encode())
        h.update(b"\n")
    return h.hexdigest()


def test_extract_turn_outputs_pinned():
    assert extract_turn_digest() == EXTRACT_TURN_DIGEST


def test_line_rules_are_anchored_at_line_start():
    # clean_text and match_section_header apply these patterns with
    # re.match, which equals re.search on a line only for a pattern
    # anchored at its start: written first, and not one branch of a
    # top-level alternation (the global (?i) flag is no parse node)
    pats = rules.BOILERPLATE_LINE_PATTERNS + [p for _, p in rules.SECTION_RULES]
    for p in pats:
        assert p.startswith(("^", "(?i)^")), p
        assert list(_parser.parse(p))[0] == (_constants.AT,
                                             _constants.AT_BEGINNING), p
