"""Deterministic splits/samples: leakage, nesting, stability.

Exact membership is DuckDB-value-hash-oracled through the driver
contract (q_hash_split); this file pins the properties the oracle
doesn't express:
* leakage-freedom — every doc of a source shares one split;
* sample nesting — corpus_mix's 1% sample is a subset of its 10%
  sample;
* partitioning-independence — membership is a pure function of the
  key, unchanged under repartition (the failure mode of rand()/
  sampleBy sampling);
* plausible proportions at sf0.1 (source-level split, so doc-level
  fractions wobble with source sizes);
* a zero-shuffle split plan.
"""

from pyspark.sql import functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.corpus import (
    corpus_mix,
    hash_split,
)


def _docs(spark, sf="0.001"):
    return spark.read.parquet(f"/root/testdata/sf{sf}/documents.parquet")


def test_split_is_leakage_free_and_total(spark):
    out = hash_split(_docs(spark))
    per_source = out.groupBy("source").agg(
        F.countDistinct("split").alias("n")).collect()
    assert all(r["n"] == 1 for r in per_source)
    assert out.filter(~F.col("split").isin("train", "val", "test")).count() == 0


def _sample(d, rate):
    """Every source kept at ``rate``."""
    weights = {r["source"]: rate for r in d.select("source").distinct().collect()}
    return {r["doc_id"] for r in corpus_mix(d, weights).collect()}


def test_samples_nest_and_are_repartition_stable(spark):
    d = _docs(spark)
    s10, s01 = _sample(d, 0.10), _sample(d, 0.01)
    assert s01 <= s10
    assert _sample(d.repartition(13), 0.10) == s10


def test_split_proportions_at_sf01(spark):
    out = hash_split(_docs(spark, "0.1"))
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    # 20 sources only -> coarse granularity; train must dominate
    assert counts.get("train", 0) / total > 0.85


def test_zero_shuffle_plans(spark):
    d = _docs(spark)
    plan = hash_split(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
