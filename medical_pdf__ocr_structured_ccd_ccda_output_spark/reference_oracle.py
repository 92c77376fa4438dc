"""Pure-Python reference pipeline — the pytest golden producer.

Runs the exact rule spec from rules.py over in-memory turns, single
process, mirroring the reference repo's per-page loop
(main.py:36-255 / demo_pipeline.py:68-303).  The Spark pipeline must
reproduce these outputs per-turn under stable (conv_id, turn_idx)
ordering.
"""

from __future__ import annotations

from . import rules


def extract_turn(text: str, with_sections: bool = True) -> dict:
    """Per-turn extraction result (analog of ocr_service.py:273-282).
    ``with_sections=False`` leaves out the section spans."""
    clean = rules.clean_text(text)
    conf = rules.score_confidence(clean)
    tokens = rules.extract_uncertain_tokens(clean)
    out = {
        "text_clean": clean,
        "confidence": conf,
        "layout_hints": rules.layout_hints(clean),
        "uncertain_tokens": tokens,
        "manual_review_required": rules.needs_review(conf, tokens),
        "review_reasons": rules.review_reasons(conf, tokens, clean),
        "is_boundary": rules.is_visit_boundary(clean),
        "extracted_date": rules.extract_date(clean),
    }
    if with_sections:
        out["sections"] = rules.extract_sections(clean)
    return out


def sessionize(turns: list[dict]) -> list[dict]:
    """Assign visit ids over turns of ONE conversation, ordered by turn_idx.

    Mirrors chunking_service.py:44-103: a boundary opens a new visit
    unless the current chunk is empty (i.e. the very first turn).
    """
    ordered = sorted(turns, key=lambda t: t["turn_idx"])
    visit = 1
    out = []
    for k, t in enumerate(ordered):
        if k > 0 and t["is_boundary"]:
            visit += 1
        out.append({**t, "visit_seq": visit, "visit_id": f"visit_{visit:03d}"})
    return out


def visit_rollup(turns_with_visits: list[dict]) -> list[dict]:
    """Per-visit chunk metadata (chunking_service.py:158-207 analog)."""
    by_visit: dict[str, list[dict]] = {}
    for t in turns_with_visits:
        by_visit.setdefault(t["visit_id"], []).append(t)
    rollups = []
    for visit_id, ts in sorted(by_visit.items()):
        ts = sorted(ts, key=lambda t: t["turn_idx"])
        date = next((t["extracted_date"] for t in ts if t["extracted_date"]), None)
        confs = [t["confidence"] for t in ts]
        raw = "".join(
            f"\n--- Page {t['turn_idx']} ---\n{t['text_clean']}\n" for t in ts
        )
        rollups.append({
            "visit_id": visit_id,
            "first_turn": ts[0]["turn_idx"],
            "last_turn": ts[-1]["turn_idx"],
            "turn_count": len(ts),
            "visit_date": date,
            "confidence": sum(confs) / len(confs) if confs else 0.0,
            "raw_text": raw,
        })
    return rollups


def combined_document_text(turns: list[dict]) -> str:
    """structuring_service.py:294-302 banner concatenation, then strip."""
    ordered = sorted(turns, key=lambda t: t["turn_idx"])
    buf = ""
    for t in ordered:
        buf += f"\n{'=' * 80}\nPAGE {t['turn_idx']}\n{'=' * 80}\n\n{t['text_clean']}\n\n"
    return buf.strip()


def run_conversation(turns: list[dict]) -> dict:
    """Full per-conversation oracle: extraction -> sessionize -> rollups."""
    extracted = [
        {**t, **extract_turn(t["text"])} for t in turns
    ]
    with_visits = sessionize(extracted)
    visits = visit_rollup(with_visits)
    confs = [t["confidence"] for t in with_visits]
    return {
        "turns": with_visits,
        "visits": visits,
        "doc": {
            "conv_id": turns[0]["conv_id"] if turns else None,
            "page_count": len(with_visits),
            "ocr_confidence_avg": rules.round2(sum(confs) / len(confs)) if confs else 0.0,
            "raw_ocr_text": combined_document_text(with_visits),
        },
    }
