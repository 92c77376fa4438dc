import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(autouse=True)
def no_streaming_query_left(request):
    """Fails a test that leaves a streaming query active, after stopping
    it: a query that outlives its test keeps scheduling batches on the
    shared session."""
    yield
    if "spark" not in request.fixturenames:
        return
    spark = request.getfixturevalue("spark")
    active = spark.streams.active
    for q in active:
        q.stop()
    assert not active, f"streaming queries left active: {[q.name for q in active]}"


@pytest.fixture
def spark_jobs(spark):
    """spark_jobs(fn, *args, **kw) -> (fn's result, the number of Spark
    jobs it ran), counted through a job group of its own; pool threads
    that inherit the caller's local properties count too."""
    import uuid

    sc = spark.sparkContext

    def run(fn, *args, **kw):
        group = f"budget-{uuid.uuid4()}"
        sc.setJobGroup(group, "Spark-job budget")
        try:
            result = fn(*args, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def bench_corpus(tmp_path_factory):
    """perfbench's seed-5 corpus and admit batch (600 + 60 documents),
    as parquet files."""
    from perfbench.inputs import prepare_corpus

    return prepare_corpus(5, str(tmp_path_factory.mktemp("bench_corpus")))


@pytest.fixture
def bench_scan_splits(spark, bench_corpus):
    """The scan-split and coalescing confs perfbench's corpus phase
    runs under, restored afterwards: they set how many Spark jobs a
    build or an admit runs."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
        tune_scan_splits,
    )

    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    tune_scan_splits(spark, bench_corpus["documents"])
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)
