"""The corpus-dedup and stream-ingest layers, run at the end of a traced
worker on its JVM: the corpus after extract_hot's passes, the stream
after pipeline_job's job.

Each phase returns its operations (a build, an admit, or the triggers;
each one checked, a failed check failing them all), the equality record
of its sampled turns, and its raw layer values.  tracing.py adds the
values it reads from the Spark event log for the phase's job tag.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback

import checks


def _op(kind: str, seconds: float, problems: list[str]) -> dict:
    return {"idx": kind, "kind": kind, "measured": False, "seconds": seconds,
            "ok": not problems, "problems": problems}


def run_corpus(spark, spec: dict, tracer, work: str) -> dict:
    """run_corpus_job over the seeded corpus, then run_incremental_job
    over the seeded batch.  Stage spans come from the ``progress=``
    callback: each message marks the end of a stage."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark import corpus_job
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import (
        tune_scan_splits,
    )

    corpus = spec["corpus"]
    out = os.path.join(work, "corpus_out")
    marks: list[tuple[float, str]] = []

    def progress(msg: str) -> None:
        marks.append((time.time(), msg))

    values: dict[str, float] = {}
    ops = []
    tune_scan_splits(spark, corpus["documents"])
    docs = spark.read.parquet(corpus["documents"])
    tracer.tag = "build"
    tracer.describe("-")
    start = time.time()
    try:
        with tracer.span("corpus_job.build"):
            counts = corpus_job.run_corpus_job(
                spark, docs, out, run_id="base", progress=progress)
        build_s = time.time() - start
        problems = checks.check_corpus_build(out, corpus)
    except Exception:
        counts, build_s = {}, time.time() - start
        problems = [traceback.format_exc(limit=3)]
    ops.append(_op("build", build_s, problems))
    values["corpus_job.build_s"] = build_s
    prev = start
    for t, msg in marks:
        stage = msg[1:msg.index("]")].split("/")[0] if msg.startswith("[") else None
        if stage in ("signatures", "pairs", "clusters", "survivors"):
            values[f"corpus_job.{stage}_s"] = values.get(
                f"corpus_job.{stage}_s", 0.0) + (t - prev)
        prev = t
    values["corpus_job.candidate_pairs"] = counts.get("pairs", 0)

    tracer.tag = "admit"
    tracer.describe("-")
    batch = spark.read.parquet(corpus["batch"])
    start = time.time()
    admit = {"kept": 0, "batch": 0}
    try:
        with tracer.span("corpus_incremental.admit"):
            corpus_job.run_incremental_job(
                spark, batch, out, base_run_id="base", inc_run_id="b0",
                progress=progress)
        admit_s = time.time() - start
        problems, admit = checks.check_admit(out, corpus, "b0")
    except Exception:
        admit_s = time.time() - start
        problems = [traceback.format_exc(limit=3)]
    ops.append(_op("admit", admit_s, problems))
    values["corpus_incremental.admit_s"] = admit_s
    values["corpus_incremental.kept_ratio"] = (
        admit["kept"] / admit["batch"] if admit["batch"] else 0.0)
    shutil.rmtree(out, ignore_errors=True)
    return {"ops": ops, "values": values}


def run_stream(spark, spec: dict, tracer, work: str) -> dict:
    """Open loop: a scheduler thread lands the staged files by atomic
    rename at a fixed rate while the driver calls
    run_stream_to_parquet (availableNow) back to back."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.streaming import stream

    st = spec["stream"]
    input_dir = os.path.join(work, "stream_in")
    out_dir = os.path.join(work, "stream_out")
    ckpt = os.path.join(work, "stream_ckpt")
    os.makedirs(input_dir)
    files = st["files"]
    landed = [0.0] * len(files)

    def land(i: int) -> None:
        os.rename(os.path.join(st["staging"], files[i]),
                  os.path.join(input_dir, files[i]))
        landed[i] = time.time()

    triggers: list[dict] = []

    def trigger() -> None:
        rec = {"start": time.time()}
        q = stream.run_stream_to_parquet(spark, input_dir, out_dir, ckpt)
        q.awaitTermination()
        rec["end"] = time.time()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        rec["durations"] = [dict(p.durationMs) for p in q.recentProgress]
        triggers.append(rec)

    tracer.tag = "stream"
    tracer.describe("-")
    land(0)
    problems: list[str] = []
    try:
        trigger()  # the cold trigger, before the schedule starts
        t0 = time.time() + st["interval_s"]
        scheduled = [0.0] + [t0 + (i - 1) * st["interval_s"]
                             for i in range(1, len(files))]
        late = []

        def scheduler() -> None:
            for i in range(1, len(files)):
                time.sleep(max(0.0, scheduled[i] - time.time()))
                land(i)
                late.append(landed[i] - scheduled[i])

        th = threading.Thread(target=scheduler, daemon=True)
        th.start()
        while th.is_alive() or triggers[-1]["start"] < landed[-1]:
            trigger()
        th.join()
        schedule_end = landed[-1]
    except Exception:
        problems.append(traceback.format_exc(limit=3))
    if not problems:
        check, eq = checks.check_stream(out_dir, st)
        problems += check
    else:
        eq = {"checked": len(st["sample"]), "equal": 0, "first_mismatch": None}
    ops = [_op("trigger", t["end"] - t["start"], problems) for t in triggers] \
        or [_op("trigger", 0.0, problems)]
    values: dict[str, float] = {}
    if not problems:
        steady = triggers[1:]
        lags = []
        for i in range(1, len(files)):
            done = next(t["end"] for t in triggers if t["start"] >= landed[i])
            lags.append(done - scheduled[i])
        backlog = sum(
            1 for i in range(len(files)) if landed[i] <= schedule_end
            and next(t for t in triggers if t["start"] >= landed[i])["end"] > schedule_end)

        def dur(t, key):
            return sum(d.get(key, 0) for d in t["durations"]) / 1000

        values = {
            "streaming.trigger_s": statistics.median(t["end"] - t["start"] for t in steady),
            "streaming.query_start_s": statistics.median(
                t["end"] - t["start"] - dur(t, "triggerExecution") for t in steady),
            "streaming.add_batch_s": statistics.median(dur(t, "addBatch") for t in steady),
            "streaming.wal_commit_s": statistics.median(dur(t, "walCommit") for t in steady),
            "streaming.latest_offset_s": statistics.median(
                dur(t, "latestOffset") for t in steady),
            "streaming.planning_s": statistics.median(
                dur(t, "queryPlanning") for t in steady),
            "streaming.backlog_files": backlog,
            "streaming.generator_late_s": max(late),
            # 20 scheduled files: 10 lie beyond the median, too few
            # beyond a p90 (see inputs.STREAM_FILES)
            "streaming.ingest_lag_p50_s": statistics.median(lags),
        }
    for d in (out_dir, ckpt, input_dir):
        shutil.rmtree(d, ignore_errors=True)
    return {"ops": ops, "values": values, "equality": eq}
