"""Visit assignment + rollup parity: Spark (both variants) vs oracle."""

import pytest

from medical_pdf__ocr_structured_ccd_ccda_output_spark import fixtures, reference_oracle
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import extract_turns
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.rollups import (
    document_rollup,
    stage_metrics,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import (
    assign_visits,
    assign_visits_skew_aware,
    visit_rollup,
)

N_CONVS = 50


@pytest.fixture(scope="module")
def golden():
    rows = fixtures.generate_transcripts(N_CONVS, seed=42)
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    return {cid: reference_oracle.run_conversation(ts) for cid, ts in by_conv.items()}


@pytest.fixture(scope="module")
def extracted(spark):
    df = fixtures.transcripts_spark_df(spark, N_CONVS, seed=42)
    return extract_turns(df, with_sections=False).cache()


def _visit_map(df):
    return {(r["conv_id"], r["turn_idx"]): r["visit_id"] for r in df.collect()}


def test_visit_assignment_window(golden, extracted):
    got = _visit_map(assign_visits(extracted))
    for cid, g in golden.items():
        for t in g["turns"]:
            assert got[(cid, t["turn_idx"])] == t["visit_id"], (cid, t["turn_idx"])


def test_visit_assignment_skew_aware_matches(golden, extracted):
    # tiny bucket size so multiple buckets per conversation are exercised
    got = _visit_map(assign_visits_skew_aware(extracted, bucket_size=7))
    for cid, g in golden.items():
        for t in g["turns"]:
            assert got[(cid, t["turn_idx"])] == t["visit_id"], (cid, t["turn_idx"])


def test_visit_rollup(golden, extracted):
    vr = visit_rollup(assign_visits(extracted))
    got = {(r["conv_id"], r["visit_id"]): r.asDict() for r in vr.collect()}
    n_checked = 0
    for cid, g in golden.items():
        for v in g["visits"]:
            row = got[(cid, v["visit_id"])]
            assert row["first_turn"] == v["first_turn"]
            assert row["last_turn"] == v["last_turn"]
            assert row["turn_count"] == v["turn_count"]
            got_date = row["visit_date"].strftime("%Y-%m-%d") if row["visit_date"] else None
            assert got_date == v["visit_date"], (cid, v["visit_id"])
            assert abs(row["confidence"] - v["confidence"]) < 1e-9
            assert row["raw_text"] == v["raw_text"], (cid, v["visit_id"])
            n_checked += 1
    assert n_checked == len(got)


def test_document_rollup(golden, extracted):
    doc = document_rollup(assign_visits(extracted))
    got = {r["conv_id"]: r.asDict() for r in doc.collect()}
    for cid, g in golden.items():
        row = got[cid]
        assert row["page_count"] == g["doc"]["page_count"]
        assert row["ocr_confidence_avg"] == g["doc"]["ocr_confidence_avg"], cid
        assert row["visit_count"] == len(g["visits"])
        assert row["raw_ocr_text"] == g["doc"]["raw_ocr_text"], cid


def test_confidence_means_match_oracle_in_any_layout(spark):
    """The three per-group confidence means equal the oracle's turn-order
    ``sum(confs) / len(confs)`` exactly, whatever the row layout.  At 200
    conversations an F.avg sum in partition order rounds some 2-decimal
    means to the other side of a tie (0.625 vs 0.6250000000000001)."""
    from pyspark.sql import functions as F

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.rollups import (
        data_quality_rollup,
    )

    n = 200
    rows = fixtures.generate_transcripts(n, seed=42)
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    golden = {cid: reference_oracle.run_conversation(ts)
              for cid, ts in by_conv.items()}
    want_doc = {cid: g["doc"]["ocr_confidence_avg"] for cid, g in golden.items()}
    want_visit = {(cid, v["visit_id"]): v["confidence"]
                  for cid, g in golden.items() for v in g["visits"]}

    extracted = extract_turns(fixtures.transcripts_spark_df(spark, n, seed=42))
    layouts = {
        "window": assign_visits(extracted),
        "skew_aware": assign_visits_skew_aware(extracted, bucket_size=7),
        "random": assign_visits(extracted).repartition(7, F.rand(1)),
    }
    for name, turns in layouts.items():
        turns = turns.cache()
        try:
            docs = document_rollup(turns, include_combined_text=False)
            got = {r["conv_id"]: r["ocr_confidence_avg"] for r in docs.collect()}
            assert got == want_doc, name
            dq = data_quality_rollup(turns)
            got = {r["conv_id"]: r["confidence_score"] for r in dq.collect()}
            assert got == want_doc, name
            vr = visit_rollup(turns, include_raw_text=False)
            got = {(r["conv_id"], r["visit_id"]): r["confidence"]
                   for r in vr.collect()}
            assert got == want_visit, name
        finally:
            turns.unpersist()


def test_stage_metrics(extracted):
    m = {r["metric"]: r["value"] for r in stage_metrics(assign_visits(extracted)).collect()}
    assert m["conversations_total"] == N_CONVS
    assert m["turns_total"] > 200
    assert 0.0 < m["avg_confidence"] < 1.0
