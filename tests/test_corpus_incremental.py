"""Incremental dedup (corpus_incremental.py + corpus_job.py
--incremental): decision semantics on a crafted corpus/batch split,
md5-vs-xxhash64 tier equivalence, and the job-level index-append /
param-inheritance / double-apply-refusal behavior."""

import os

import pytest
from pyspark.sql import functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark import (
    corpus_incremental as ci,
    corpus_pipeline as cp,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.corpus_job import (
    run_corpus_job,
    run_incremental_job,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import corpus

TEXT_A = ("the quick brown fox jumps over the lazy dog while the "
          "patient reports mild headache and intermittent dizziness "
          "since last tuesday with no fever chills or visual changes "
          "noted on examination today")
TEXT_B = ("blood pressure remains elevated despite medication "
          "adjustment so cardiology recommends starting a low dose "
          "beta blocker and scheduling an echocardiogram next month "
          "to evaluate left ventricular function and wall motion")
TEXT_C = ("completely different note about spark shuffle mechanics "
          "and adaptive query execution partition coalescing rules "
          "with broadcast thresholds and skew join splitting enabled")
TEXT_D = ("followup laboratory results show improving renal function "
          "with creatinine trending down and electrolytes within "
          "normal limits continue current diuretic dosing and repeat "
          "basic metabolic panel in one week before clinic visit")
TEXT_E = ("physical therapy progress note patient ambulating fifty "
          "meters with rolling walker minimal assistance stairs "
          "remain difficult due to right knee pain continue twice "
          "weekly sessions and reassess range of motion next month")


def _corpus_index(spark, hash_fn, num_hashes):
    corp = spark.createDataFrame(
        [(100, TEXT_A), (101, TEXT_B), (102, TEXT_C)],
        "doc_id long, text string",
    )
    keyed = cp.content_keyed(corp)
    cmap = cp.exact_map_of(keyed)
    reps = keyed.join(
        cmap.select(F.col("keep_doc_id").alias("doc_id")), "doc_id"
    )
    csigs = corpus.minhash_signatures(
        reps.select("doc_id", "text"), num_hashes, 3, hash_fn
    )
    return cmap.select("content_key", "keep_doc_id"), csigs


def _batch(spark):
    # 205 is LONGER than 204, so the in-batch cluster {204, 205} keeps
    # 205 and the loser's dup_of must point at 205 (the survivor, NOT
    # the min-id cluster label 204)
    rows = [
        (200, TEXT_A.upper()),            # exact dup of corpus 100
        (201, TEXT_D),                    # kept (new content)
        (202, "  " + TEXT_D.replace(" ", "\t") + " "),  # exact dup in batch of 201
        (203, TEXT_B + " tonight"),       # near dup of corpus 101
        (204, TEXT_E),                    # near dup in batch, loses to 205
        (205, TEXT_E + " addendum"),      # kept (cluster survivor)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


EXPECT = {
    200: (ci.REASON_EXACT_CORPUS, 100),
    201: (ci.REASON_KEPT, -1),
    202: (ci.REASON_EXACT_BATCH, 201),
    203: (ci.REASON_NEAR_CORPUS, 101),
    204: (ci.REASON_NEAR_BATCH, 205),
    205: (ci.REASON_KEPT, -1),
}


@pytest.mark.parametrize("hash_fn,num_hashes,bands",
                         [("md5", 16, 4), ("xxhash64", 32, 8)])
def test_incremental_decisions(spark, hash_fn, num_hashes, bands):
    cmap, csigs = _corpus_index(spark, hash_fn, num_hashes)
    res = ci.incremental_dedup(
        _batch(spark), cmap, csigs, num_hashes=num_hashes, bands=bands,
        jaccard_threshold=0.5, hash_fn=hash_fn,
    )
    got = {r["doc_id"]: (r["reason"], r["dup_of"], r["keep"])
           for r in res.decisions.collect()}
    assert {d: (r, du) for d, (r, du, _) in got.items()} == EXPECT
    assert {d for d, (_, _, k) in got.items() if k} == {201, 205}
    # survivors = kept batch rows; index-append tables cover exactly them
    assert {r["doc_id"] for r in res.survivors.collect()} == {201, 205}
    assert {r["keep_doc_id"] for r in res.new_keys.collect()} == {201, 205}
    new_sigs = {r["doc_id"]: r for r in res.new_sigs.collect()}
    assert set(new_sigs) == {201, 205}
    assert all(len(r["signature"]) == num_hashes for r in new_sigs.values())
    assert new_sigs[201]["text_len"] == len(TEXT_D)


def test_broadcast_off_same_decisions(spark):
    """broadcast_batch=False (the too-big-to-broadcast fallback) is a
    pure plan change: identical decisions."""
    cmap, csigs = _corpus_index(spark, "xxhash64", 32)
    outs = []
    for bc in (True, False):
        res = ci.incremental_dedup(
            _batch(spark), cmap, csigs, num_hashes=32, bands=8,
            jaccard_threshold=0.5, hash_fn="xxhash64", broadcast_batch=bc,
        )
        outs.append(sorted(map(tuple, res.decisions.collect())))
    assert outs[0] == outs[1]


def test_zero_corpus_shuffle_plan(spark, sf_dir):
    """The scale contract of the incremental path: with
    broadcast_batch=True every corpus probe is a BroadcastHashJoin
    (batch side built, corpus side streamed), so NO shuffle exchange
    partitions corpus-derived rows — the only hash exchanges operate
    on batch-sized data (batch groupBys + the in-batch closure)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # corpus = the sf docs; batch = 10 crafted docs
    keyed = cp.content_keyed(docs)
    cmap = cp.exact_map_of(keyed)
    reps = keyed.join(
        cmap.select(F.col("keep_doc_id").alias("doc_id")), "doc_id"
    )
    csigs = corpus.minhash_signatures(
        reps.select("doc_id", "text"), 16, 3, "xxhash64"
    )
    res = ci.incremental_dedup(
        _batch(spark), cmap.select("content_key", "keep_doc_id"), csigs,
        num_hashes=16, bands=4, jaccard_threshold=0.5, hash_fn="xxhash64",
    )
    plan = res.decisions._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the two corpus probes must not appear as shuffled joins: every
    # SortMergeJoin/ShuffledHashJoin key in the plan is a batch-side
    # column (doc_id of the 10-row batch after closure), never
    # content_key or (band, bucket) against the corpus
    import re
    for m in re.finditer(r"(SortMergeJoin|ShuffledHashJoin) \[([^\]#]+)#", plan):
        assert m.group(2) in {"doc_id", "_bid", "id", "cluster_id", "_did",
                              "_cid"}, plan


def test_incremental_job_chain(spark, tmp_path):
    """Base job -> incremental batch 1 -> incremental batch 2: params
    come from the base manifest, batch 2 dedups against batch 1's
    APPENDED signatures, same inc id refuses re-apply, incomplete base
    refuses."""
    out = str(tmp_path / "out")
    corp = spark.createDataFrame(
        [(100, TEXT_A), (101, TEXT_B), (102, TEXT_C)],
        "doc_id long, text string",
    )
    run_corpus_job(spark, corp, out, run_id="base", shards=2,
                   num_hashes=16, bands=4, jaccard_threshold=0.5,
                   hash_fn="md5", progress=lambda *_: None)

    b1 = spark.createDataFrame(
        [(200, TEXT_D), (201, TEXT_A.upper())], "doc_id long, text string"
    )
    run_incremental_job(spark, b1, out, base_run_id="base",
                        inc_run_id="day1", progress=lambda *_: None)
    dec1 = {r["doc_id"]: r["reason"] for r in spark.read.parquet(
        os.path.join(out, "inc_decisions_day1.parquet")).collect()}
    assert dec1 == {200: ci.REASON_KEPT, 201: ci.REASON_EXACT_CORPUS}

    # batch 2: 300 near-dups batch-1's KEPT doc 200 -> only visible
    # through the appended index; 301 exact-dups it
    b2 = spark.createDataFrame(
        [(300, TEXT_D + " tonight"), (301, TEXT_D), (302, TEXT_E)],
        "doc_id long, text string",
    )
    run_incremental_job(spark, b2, out, base_run_id="base",
                        inc_run_id="day2", progress=lambda *_: None)
    dec2 = {r["doc_id"]: (r["reason"], r["dup_of"])
            for r in spark.read.parquet(
                os.path.join(out, "inc_decisions_day2.parquet")).collect()}
    assert dec2 == {
        300: (ci.REASON_NEAR_CORPUS, 200),
        301: (ci.REASON_EXACT_CORPUS, 200),
        302: (ci.REASON_KEPT, -1),
    }
    # the appended index now holds 200 (day1) and 302 (day2)
    inc_idx = spark.read.parquet(os.path.join(out, "exact_sigs_inc.parquet"))
    assert {r["keep_doc_id"] for r in inc_idx.collect()} == {200, 302}

    with pytest.raises(ValueError, match="already applied"):
        run_incremental_job(spark, b2, out, base_run_id="base",
                            inc_run_id="day2", progress=lambda *_: None)
    with pytest.raises(ValueError, match="not completed"):
        run_incremental_job(spark, b2, out, base_run_id="nonexistent",
                            inc_run_id="day3", progress=lambda *_: None)


def test_admit_spark_job_budget(spark, spark_jobs, bench_corpus,
                                bench_scan_splits, tmp_path):
    """The admit of perfbench's seed-5 batch runs a pinned number of
    Spark jobs, and its kept count is the committed inc_kept table's:
    the counts come from the decisions and kept writes, with no
    reporting pass over the decisions."""
    out = str(tmp_path / "out")
    run_corpus_job(spark, spark.read.parquet(bench_corpus["documents"]), out,
                   run_id="base", progress=lambda *_: None)
    log = []
    got, jobs = spark_jobs(
        run_incremental_job, spark, spark.read.parquet(bench_corpus["batch"]),
        out, base_run_id="base", inc_run_id="b0", progress=log.append)
    assert jobs == 84

    def rows(name):
        return spark.read.parquet(os.path.join(out, f"{name}.parquet")).count()

    n_kept, n_batch = rows("inc_kept_b0"), rows("inc_decisions_b0")
    assert got == {"incremental/b0": n_kept}
    assert log == [f"[incremental/b0] {n_kept} of {n_batch} batch docs kept, "
                   f"keys+signatures appended to index"]
