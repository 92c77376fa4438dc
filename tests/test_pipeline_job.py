"""End-to-end pipeline, XML renderer, manifest resumability."""

import os
import xml.etree.ElementTree as ET

import pytest

from medical_pdf__ocr_structured_ccd_ccda_output_spark import fixtures
from medical_pdf__ocr_structured_ccd_ccda_output_spark.pipeline import (
    build_outputs,
    prepare_turns,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.sources.manifest import Manifest


@pytest.fixture(scope="module")
def result(spark):
    df = fixtures.transcripts_spark_df(spark, 30, seed=42)
    return build_outputs(spark, prepare_turns(df), run_id="t")


def test_pipeline_shapes(result):
    n_turns = result.extracted_turns.count()
    assert n_turns > 100
    assert result.visit_spans.count() > 30
    # P1 ingest validation quarantines the fixture conversations that
    # exceed the 100-turn page-count bound (pdf_service.py:28-99 analog)
    quarantined = result.quarantine.collect()
    assert len(quarantined) == 2
    assert all(r["warnings"] == ["too_many_pages"] for r in quarantined)
    assert result.documents.count() == 30 - len(quarantined)
    assert result.metrics.count() >= 6
    assert result.dedup_log.columns.count("entity_type") == 1


def test_pipeline_validation_off(spark):
    df = fixtures.transcripts_spark_df(spark, 10, seed=7)
    res = build_outputs(spark, prepare_turns(df, with_validation=False),
                        run_id="nv")
    assert res.quarantine is None
    assert res.documents.count() == 10


def test_xml_well_formed(result):
    rows = result.ccd_xml.limit(5).collect()
    assert rows
    for r in rows:
        root = ET.fromstring(r["ccd_xml"])
        assert root.tag.endswith("ClinicalDocument")


def test_lineage(result):
    lin = result.lineage["extracted_turns"].collect()
    assert sum(r["rows"] for r in lin) == result.extracted_turns.count()
    assert all(r["stage"] == "extract+sessionize" for r in lin)


def test_job_resume(spark, tmp_path):
    """Shard manifest: a second run with --resume skips completed shards."""
    from pyspark.sql import functions as F
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    fixtures.transcripts_spark_df(spark, 12, seed=7).write.parquet(
        os.path.join(in_dir, "transcripts.parquet"))

    from medical_pdf__ocr_structured_ccd_ccda_output_spark import job

    # simulate a crashed run: pretend shard 0 already committed
    transcripts = spark.read.parquet(os.path.join(in_dir, "transcripts.parquet"))
    man = Manifest(spark, os.path.join(out_dir, "_manifest"), "r1")
    assert man.pending(transcripts, 3) == [0, 1, 2]
    man.mark_done(0, 0)
    assert man.pending(transcripts, 3) == [1, 2]

    job.main([
        "--input", in_dir, "--output", out_dir,
        "--run-id", "r1", "--shards", "3", "--resume", "--no-raw-text",
    ])
    man2 = Manifest(spark, os.path.join(out_dir, "_manifest"), "r1")
    assert man2.pending(transcripts, 3) == []
    # shard 0 was skipped -> no output dir for it
    assert not os.path.exists(os.path.join(out_dir, "extracted_turns_shard0.parquet"))
    got = spark.read.parquet(os.path.join(out_dir, "extracted_turns_shard1.parquet"))
    assert got.count() > 0
    # shards partition conv_ids disjointly
    s1 = {r["conv_id"] for r in got.select("conv_id").distinct().collect()}
    s2 = {r["conv_id"] for r in spark.read.parquet(
        os.path.join(out_dir, "extracted_turns_shard2.parquet")
    ).select("conv_id").distinct().collect()}
    assert not (s1 & s2)
    # each shard's rows_out is its own Observation's count
    rows_out = {r["shard"]: r["rows_out"] for r in man2._rows()}
    for shard in (1, 2):
        assert rows_out[shard] == spark.read.parquet(os.path.join(
            out_dir, f"extracted_turns_shard{shard}.parquet")).count()


@pytest.fixture(scope="module")
def small_input(spark, tmp_path_factory):
    """Input dir of a 4-conversation job.main run."""
    in_dir = str(tmp_path_factory.mktemp("small_input"))
    fixtures.transcripts_spark_df(spark, 4, seed=3).write.parquet(
        os.path.join(in_dir, "transcripts.parquet"))
    return in_dir


def test_failed_write_unpersists_shard_cache(spark, small_input, tmp_path,
                                             monkeypatch):
    """A sink write that raises inside the concurrent phase is re-raised
    after every other write ran, leaves none of the shard's persisted
    frames cached, and commits nothing to the manifest."""
    from pyspark import StorageLevel

    from medical_pdf__ocr_structured_ccd_ccda_output_spark import job

    out_dir = str(tmp_path / "out")
    results, writes = [], []

    def outputs(*a, **kw):
        results.append(real_build(*a, **kw))
        return results[-1]

    def write_table(df, root, name, mode):
        writes.append(name)
        if name == "medications":
            raise OSError("sink unavailable")
        return real_write(df, root, name, mode)

    real_write, real_build = job.tio.write_table, job.build_outputs
    monkeypatch.setattr(job, "build_outputs", outputs)
    monkeypatch.setattr(job.tio, "write_table", write_table)
    with pytest.raises(OSError, match="sink unavailable"):
        job.main(["--input", small_input, "--output", out_dir, "--no-raw-text"])
    assert writes[:2] == ["extracted_turns", "dedup_log"]
    # the failure did not cut the concurrent phase short
    assert {"medications", "plan_items", "metrics",
            "lineage_extracted_turns"} <= set(writes)
    # quality aggregate, extract+sessionize plan, fused dedup
    persisted = results[0].to_persist
    assert len(persisted) == 3
    assert results[0].extracted_turns is persisted[1]
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
    assert Manifest(spark, os.path.join(out_dir, "_manifest"),
                    "run_0").completed_shards() == set()


def _wrap_job(job, monkeypatch, fail_write=None, fail_build=None):
    """Wrap job.main's builders and sink writes.  Returns the stages and
    results the builders produced, the writes entered and finished, and
    whether the stage's frames were still persisted when the
    extracted_turns write ended.  The wrapped build_outputs first waits
    until that write is entered: it fails unless the write starts while
    the build runs.  A failing build is raised before the write goes on."""
    import threading

    seen = {"stages": [], "results": [], "entered": [], "finished": [],
            "turns_write": threading.Event(), "build_raised": threading.Event()}
    real_prepare, real_build = job.prepare_turns, job.build_outputs
    real_write = job.tio.write_table

    def prepare(*a, **kw):
        seen["stages"].append(real_prepare(*a, **kw))
        return seen["stages"][-1]

    def outputs(*a, **kw):
        assert seen["turns_write"].wait(60), "extracted_turns did not overlap the build"
        if fail_build is not None:
            seen["build_raised"].set()
            raise fail_build
        seen["results"].append(real_build(*a, **kw))
        return seen["results"][-1]

    def write_table(df, root, name, mode):
        seen["entered"].append(name)
        if name == "extracted_turns":
            seen["turns_write"].set()
            if fail_build is not None:
                assert seen["build_raised"].wait(60)
        if name == fail_write:
            raise OSError(f"{name} sink unavailable")
        real_write(df, root, name, mode)
        seen["finished"].append(name)
        if name == "extracted_turns":
            seen["cached_at_turns_end"] = all(
                f.is_cached for f in seen["stages"][0].to_persist)

    monkeypatch.setattr(job, "prepare_turns", prepare)
    monkeypatch.setattr(job, "build_outputs", outputs)
    monkeypatch.setattr(job.tio, "write_table", write_table)
    return seen


def test_turns_write_overlaps_build(spark, small_input, tmp_path, monkeypatch):
    """The extracted_turns write is entered while build_outputs runs:
    the wrapped build waits for it, so the old build-then-write order
    fails here after 60 s instead of passing by luck."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark import job

    out_dir = str(tmp_path / "out")
    seen = _wrap_job(job, monkeypatch)
    job.main(["--input", small_input, "--output", out_dir, "--no-raw-text"])
    assert seen["entered"][:2] == ["extracted_turns", "dedup_log"]
    assert set(seen["finished"]) == set(seen["entered"])
    assert seen["cached_at_turns_end"]
    assert Manifest(spark, os.path.join(out_dir, "_manifest"),
                    "run_0").completed_shards() == {0}


def test_failed_build_waits_for_turns_write(spark, small_input, tmp_path,
                                            monkeypatch):
    """A build_outputs failure while the extracted_turns write runs is
    raised only after that write finished; the quality and turn caches
    are unpersisted and nothing is committed."""
    from pyspark import StorageLevel

    from medical_pdf__ocr_structured_ccd_ccda_output_spark import job

    out_dir = str(tmp_path / "out")
    seen = _wrap_job(job, monkeypatch, fail_build=RuntimeError("build failed"))
    with pytest.raises(RuntimeError, match="build failed"):
        job.main(["--input", small_input, "--output", out_dir, "--no-raw-text"])
    assert seen["entered"] == seen["finished"] == ["extracted_turns"]
    # nothing was unpersisted while the write read the caches
    assert seen["cached_at_turns_end"]
    persisted = seen["stages"][0].to_persist
    assert len(persisted) == 2
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
    assert Manifest(spark, os.path.join(out_dir, "_manifest"),
                    "run_0").completed_shards() == set()


def test_failed_turns_write_unpersists_after_build(spark, small_input, tmp_path,
                                                   monkeypatch):
    """A failed extracted_turns write is raised once the overlapped build
    is done; no other sink is written, every persisted frame (the fused
    dedup output included) is unpersisted and nothing is committed."""
    from pyspark import StorageLevel

    from medical_pdf__ocr_structured_ccd_ccda_output_spark import job

    out_dir = str(tmp_path / "out")
    seen = _wrap_job(job, monkeypatch, fail_write="extracted_turns")
    with pytest.raises(OSError, match="extracted_turns sink unavailable"):
        job.main(["--input", small_input, "--output", out_dir, "--no-raw-text"])
    assert seen["entered"] == ["extracted_turns"]
    assert seen["finished"] == []
    persisted = seen["results"][0].to_persist
    assert len(persisted) == 3
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
    assert Manifest(spark, os.path.join(out_dir, "_manifest"),
                    "run_0").completed_shards() == set()


def test_job_spark_job_budget(spark, spark_jobs, small_input, tmp_path):
    """One job.main shard over the small fixture runs a pinned number of
    Spark jobs: a lost persist or a re-split dedup re-executes plans
    and adds jobs.  Pool threads inherit the caller's job group."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark import job

    _, jobs = spark_jobs(job.main, ["--input", small_input,
                                    "--output", str(tmp_path / "out")])
    assert jobs == 28


def test_repeat_pipeline_compiles_almost_nothing(spark, small_input):
    """A second identical pipeline write finds its whole-stage
    classes in the codegen cache.  One pipeline generates more distinct
    classes than the default 100-entry cache holds, so before
    session.get_spark sized it (spark.sql.codegen.cache.maxEntries) the
    LRU evicted them and the repeat compiled almost all of them again.
    Read from the JVM's CodegenMetrics, which runs no Spark job."""
    from dataclasses import fields

    from pyspark.sql import DataFrame

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def write_all():
        res = build_outputs(spark, prepare_turns(spark.read.parquet(
            os.path.join(small_input, "transcripts.parquet"))))
        sinks = [getattr(res, f.name) for f in fields(res)]
        for df in [s for s in sinks if isinstance(s, DataFrame)] + \
                list(res.lineage.values()):
            df.write.format("noop").mode("overwrite").save()
        return compiles.getCount()

    before = compiles.getCount()
    first = write_all() - before
    second = write_all() - before - first
    assert first > 100, first
    assert second <= 5, (first, second)


def test_manifest_refuses_shard_count_change(spark, tmp_path):
    """Round-3 review fix: pmod(hash, n) bucketing is not stable across
    n, so resuming with a different --shards would silently skip every
    conversation whose new bucket is already marked done."""
    import pytest

    man = Manifest(spark, str(tmp_path / "_m"), "r1")
    man.mark_done(0, 10, n_shards=64)
    tr = fixtures.transcripts_spark_df(spark, 4, seed=1)
    assert man.pending(tr, 64) == list(range(1, 64))
    with pytest.raises(ValueError, match="shards"):
        man.pending(tr, 32)


def test_manifest_rows_compatible_across_writers(spark, tmp_path):
    """Rows mark_done builds in the JVM read back like the rows of the
    earlier createDataFrame writer, and a dir mixing both (plus a row
    from before the n_shards column) resumes and refuses as before."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.sources.manifest import (
        StageManifest,
    )

    def old_row(path, row, ddl):
        spark.createDataFrame([row], ddl).coalesce(1) \
            .write.mode("append").parquet(path)

    def schema(path):
        return [(f.name, f.dataType.simpleString(), f.nullable)
                for f in spark.read.parquet(path).schema]

    ddl = "run_id string, shard int, rows_out long, n_shards int"
    old_row(str(tmp_path / "old"), ("r1", 0, 5, 4), ddl)
    Manifest(spark, str(tmp_path / "new"), "r1").mark_done(0, 5, n_shards=4)
    assert schema(str(tmp_path / "new")) == schema(str(tmp_path / "old"))

    path = str(tmp_path / "_m")
    old_row(path, ("r1", 0, 5, 4), ddl)
    old_row(path, ("r1", 1, 6), "run_id string, shard int, rows_out long")
    man = Manifest(spark, path, "r1")
    man.mark_done(2, 7, n_shards=4)
    Manifest(spark, path, "r2").mark_done(0, 1)
    merged = spark.read.option("mergeSchema", "true").parquet(path).schema
    assert {(f.name, f.dataType.simpleString(), f.nullable) for f in merged} == {
        ("run_id", "string", True), ("shard", "int", True),
        ("rows_out", "bigint", True), ("n_shards", "int", True)}
    assert sorted((r["shard"], r["rows_out"], r["n_shards"])
                  for r in man._rows()) == [(0, 5, 4), (1, 6, None), (2, 7, 4)]
    assert man.completed_shards() == {0, 1, 2}
    assert man.pending(None, 4) == [3]
    with pytest.raises(ValueError, match="shards"):
        man.pending(None, 8)
    # a run without a recorded shard count refuses nothing
    r2 = Manifest(spark, path, "r2")
    assert r2.completed_shards() == {0}
    assert r2.pending(None, 2) == [1]

    ddl = "run_id string, stage string, rows_out long, note string"
    old_row(str(tmp_path / "s_old"), ("r1", "pairs", 3, ""), ddl)
    StageManifest(spark, str(tmp_path / "s_new"), "r1").mark_done("pairs", 3)
    assert schema(str(tmp_path / "s_new")) == schema(str(tmp_path / "s_old"))

    spath = str(tmp_path / "_s")
    old_row(spath, ("r1", "signatures/shard=0", 10, ""), ddl)
    sm = StageManifest(spark, spath, "r1")
    sm.record_params({"bands": 16, "hash": "md5"})
    assert sm.params() == {"bands": "16", "hash": "md5"}
    sm.record_params({"hash": "md5", "bands": 16})
    with pytest.raises(ValueError, match="params"):
        sm.record_params({"bands": 32, "hash": "md5"})
    sm.mark_done("pairs", 3)
    assert StageManifest(spark, spath, "r1").completed() == {
        "signatures/shard=0", "_params", "pairs"}
    assert StageManifest(spark, spath, "r2").params() == {}


def test_io_location_dispatch(tmp_path):
    """Round-3 review fix: relative filesystem paths must route to the
    parquet layout, not the Iceberg catalog branch."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.sources.io import (
        is_iceberg_location,
    )

    assert not is_iceberg_location("/abs/dir")
    assert not is_iceberg_location("data/transcripts")   # relative path
    assert not is_iceberg_location("out")                # bare relative dir
    assert not is_iceberg_location("s3://bucket/prefix")
    assert not is_iceberg_location(str(tmp_path))        # existing dir
    assert is_iceberg_location("lake.db")                # catalog.namespace


def test_iceberg_output_needs_manifest_dir(spark, small_input, tmp_path,
                                          monkeypatch, capsys):
    """An Iceberg catalog prefix has no directory for the manifest to
    default into: all three entry points refuse one without an explicit
    manifest directory."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark import job
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.corpus_job import (
        run_corpus_job,
        run_incremental_job,
    )

    monkeypatch.chdir(tmp_path)  # "lake.db" must not exist as a directory
    docs = spark.createDataFrame([(1, "text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="--manifest-dir"):
        run_corpus_job(spark, docs, "lake.db", run_id="r")
    with pytest.raises(ValueError, match="--manifest-dir"):
        run_incremental_job(spark, docs, "lake.db", base_run_id="r",
                            inc_run_id="i")
    with pytest.raises(SystemExit) as exc:
        job.main(["--input", small_input, "--output", "lake.db"])
    assert exc.value.code == 2
    assert "--manifest-dir" in capsys.readouterr().err


def test_tune_scan_splits_widens_small_corpus(spark, tmp_path):
    """Round-4 fix: under the default 128MB maxPartitionBytes + 4MB
    openCostInBytes, a small many-file compressed corpus packs into a
    handful of scan partitions, capping the compute-heavy map side
    (Arrow extractor, md5/norm, shingler) at that width regardless of
    core count — measured as the corpus-DAG anti-scaling in BENCH.md.
    tune_scan_splits sizes the split to the actual input."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
        tune_scan_splits,
    )

    path = str(tmp_path / "docs.parquet")
    spark.range(200_000).selectExpr(
        "id", "repeat(uuid(), 8) AS text"
    ).repartition(64).write.parquet(path)

    before_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    before_open = spark.conf.get("spark.sql.files.openCostInBytes")
    before_coal = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
        narrow = spark.read.parquet(path).rdd.getNumPartitions()

        target = tune_scan_splits(spark, path)
        wide = spark.read.parquet(path).rdd.getNumPartitions()

        cores = spark.sparkContext.defaultParallelism
        assert wide > narrow
        assert wide >= min(64, cores)  # per-file cap: 64 files
        assert 256 * 1024 <= target <= 128 * 1024 * 1024
        # compute-dense regime (split < 64MB) also disables AQE
        # partition coalescing, so the explicit shuffle width (sized
        # to balanced waves per core) survives — the round-5 fix for
        # AQE re-packing the dedup DAG's dominant shuffle into
        # ceil(37/32)=2 uneven task waves (see BENCH.md)
        assert spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled") == "false"
        # non-existent / non-local paths contribute nothing and the
        # floor keeps the setting sane
        assert tune_scan_splits(spark, "s3://bucket/prefix") == 256 * 1024
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", before_max)
        spark.conf.set("spark.sql.files.openCostInBytes", before_open)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", before_coal)
