"""One fresh Python process and JVM running one workload's passes.

  python3 perfbench/worker.py <spec.json> <result.json>

The orchestrator (run.py) writes the spec and reads the result.  Passes
run one at a time (closed loop): a cold pass, the workload's warm-up
passes, then steady passes until ``seconds`` have elapsed (one steady
pass in a traced worker).  Every pass
is checked; a pass that raises or fails its check is a failed operation.
A traced worker then runs the corpus-dedup phase (extract_hot) or the
stream-ingest phase (pipeline_job) from phases.py, whose build, admit
and triggers are operations too.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

T_IMPORT = time.time()

from pyspark.sql import Observation, functions as F  # noqa: E402

from medical_pdf__ocr_structured_ccd_ccda_output_spark import session  # noqa: E402

import checks  # noqa: E402
import host  # noqa: E402
import phases  # noqa: E402
import tracing  # noqa: E402

KEY_COLS = ("conv_id", "turn_idx")


def _corrupt(df, conv_id: str):
    """Self-test only: upper-case one conversation's cleaned text."""
    return df.withColumn("text_clean", F.when(
        F.col("conv_id") == conv_id, F.upper("text_clean")
    ).otherwise(F.col("text_clean")))


class ExtractHot:
    """assign_visits(extract_turns(t)) into a noop sink.  Each pass
    observes its row count and an order-independent digest of the
    checked columns, which must equal the cold pass's digest."""

    warmups = 1
    cold_only = False

    def __init__(self, spark, spec):
        from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import (
            extract_turns,
        )
        from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import (
            assign_visits,
        )

        self.spec = spec
        self.build = lambda t: assign_visits(extract_turns(t, with_sections=True))
        session.tune_scan_splits(spark, spec["table_dir"])
        self.transcripts = spark.read.parquet(spec["table_dir"])
        self.sample_convs = checks.sample_convs(spec["sample"])
        self.digest = None

    def output(self):
        out = self.build(self.transcripts)
        if self.spec["inject"] == "corrupt":
            out = _corrupt(out, self.sample_convs[0])
        return out

    def run(self, k: int) -> dict:
        obs = Observation(f"pass{k}")
        self.output().observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*KEY_COLS, *checks.CHECKED_FIELDS)).alias("digest"),
        ).write.format("noop").mode("overwrite").save()
        return dict(obs.get)

    def check(self, k: int, got: dict) -> tuple[list[str], dict | None]:
        problems = []
        if got["rows"] != self.spec["expected_rows"]:
            problems.append(f"{got['rows']} rows, expected {self.spec['expected_rows']}")
        if self.digest is None:
            self.digest = got["digest"]
        elif got["digest"] != self.digest:
            problems.append("output digest differs from the cold pass")
        return problems, None

    def verify(self) -> dict:
        """Compare the sampled turns of the same plan with the reference.
        Run once after the timed passes, when the JIT is warm: the passes
        share one digest, so a mismatch here fails all of them."""
        rows = self.output().filter(F.col("conv_id").isin(self.sample_convs)) \
            .select(*KEY_COLS, *checks.CHECKED_FIELDS).collect()
        return checks.compare_sample(
            self.spec["sample"], [r.asDict(recursive=True) for r in rows])


class PipelineJob:
    """job.main, the spark-submit entry point, into a fresh output
    directory; every sink is checked, then deleted.  One cold job per
    process, as spark-submit runs it: a second job would cost another
    20-30 s a run, which the benchmark's time budget cannot afford (see
    README.md)."""

    warmups = 0
    cold_only = True

    def __init__(self, spark, spec):
        from medical_pdf__ocr_structured_ccd_ccda_output_spark import job
        from medical_pdf__ocr_structured_ccd_ccda_output_spark.sources import io as tio

        self.spec = spec
        self.job = job
        self.cold_counts = None
        if spec["inject"] == "corrupt":
            write_table = tio.write_table
            conv = checks.sample_convs(spec["sample"])[0]

            def corrupting_write(df, location, name, *a, **kw):
                if name == "extracted_turns":
                    df = _corrupt(df, conv)
                write_table(df, location, name, *a, **kw)

            tio.write_table = corrupting_write

    def run(self, k: int) -> dict:
        out = os.path.join(self.spec["out_dir"], f"pass{k}")
        self.job.main(["--input", self.spec["input_dir"], "--output", out,
                       "--run-id", f"pass{k}"])
        return {"out": out}

    def check(self, k: int, got: dict) -> tuple[list[str], dict]:
        res = checks.check_pipeline_output(got["out"], self.spec)
        shutil.rmtree(got["out"], ignore_errors=True)
        problems = res["problems"]
        if self.cold_counts is None:
            self.cold_counts = res["counts"]
        elif res["counts"] != self.cold_counts:
            problems.append("sink row counts differ from the cold pass")
        got["rows"] = res["counts"].get("extracted_turns") or 0
        return problems, res["equality"]

    def verify(self) -> None:
        return None


WORKLOADS = {"extract_hot": ExtractHot, "pipeline_job": PipelineJob}


def _operation(rec: dict, run, check) -> None:
    """Run one operation and its check into ``rec``; an exception is a
    failed operation, not the end of the run."""
    start = time.time()
    try:
        got = run()
        rec["seconds"] = time.time() - start
        problems, eq = check(got)
        rec["rows"] = got["rows"]
        rec["equality"] = eq
    except Exception:
        rec.setdefault("seconds", time.time() - start)
        problems = [traceback.format_exc(limit=3)]
    rec["ok"] = not problems
    rec["problems"] = problems


def _injected_failure(k: int) -> dict:
    raise RuntimeError(f"self-test: pass {k} raises")


# a workload whose passes keep raising would spin; stop after this many
# failures in a row (each one still counts as a failed operation)
MAX_FAILURES_IN_A_ROW = 3
# The JIT keeps speeding passes up after the warm-up.  A time window
# alone would give a slowed-down host fewer, earlier and so slower
# passes; a minimum count keeps the measured passes at the same depth.
# Two, not three: a full benchmark session, 48 runs within 3,420 s,
# must still fit on a busy host.
MIN_STEADY_PASSES = 2
# A traced run times one steady pass, so that its phase still fits the
# 180 s a run may take on a slowed-down host.
TRACED_STEADY_PASSES = 1


# The longest a phase took on a busy 4-vCPU host, plus the time to stop
# Spark and write the result.  A phase that cannot end before the run's
# deadline is skipped, and its layers are left out of the result, rather
# than letting the run time out with no result at all.
PHASE_BUDGET_S = {"corpus": 90.0, "stream": 50.0}


def _time_for(phase: str, spec: dict) -> bool:
    return time.time() + PHASE_BUDGET_S[phase] <= spec["deadline"]


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    tracer = tracing.Tracer() if spec["traced"] else None
    t0 = time.time()
    if tracer:
        with tracer.span("session.start"):
            spark = session.get_spark(f"perfbench_{spec['workload']}")
        tracer.instrument(spark)
    else:
        spark = session.get_spark(f"perfbench_{spec['workload']}")
    spark_ready = time.time()
    wl = WORKLOADS[spec["workload"]](spark, spec)
    run = _injected_failure if spec["inject"] == "raise" else wl.run
    passes, equality = [], []
    cold_end = steady_start = None
    k = failures = 0
    while failures < MAX_FAILURES_IN_A_ROW:
        kind = "cold" if k == 0 else "warm" if k <= wl.warmups else "steady"
        if k > 0 and wl.cold_only:
            break
        if kind == "steady":
            steady_start = steady_start or time.time()
            done = k - 1 - wl.warmups
            if tracer and done >= TRACED_STEADY_PASSES:
                break
            if (time.time() - steady_start >= spec["seconds"]
                    and done >= MIN_STEADY_PASSES):
                break
        rec = {"idx": k, "kind": kind,
               "measured": kind == "steady" or wl.cold_only}
        if tracer:
            tracer.tag = str(k)
            tracer.describe("-" if wl.cold_only else "noop")
        cpu0 = host.tree_cpu_s(os.getpid())
        _operation(rec, lambda: run(k), lambda got: wl.check(k, got))
        rec["cpu_s"] = host.tree_cpu_s(os.getpid()) - cpu0
        cold_end = cold_end or time.time()
        eq = rec.pop("equality", None)
        if eq is not None:
            equality.append(eq)
        failures = 0 if rec["ok"] else failures + 1
        passes.append(rec)
        k += 1
    if tracer:
        tracer.tag = "verify"
        tracer.describe("-")
    eq = wl.verify()
    if eq is not None:
        equality.append(eq)
        if eq["equal"] != eq["checked"]:
            for rec in passes:
                rec["ok"] = False
                rec["problems"].append(f"turn mismatch at {eq['first_mismatch']}")
    phase_values = {}
    skipped = []
    if tracer and "corpus" in spec:
        if _time_for("corpus", spec):
            corpus = phases.run_corpus(spark, spec, tracer, spec["out_dir"])
            passes += corpus["ops"]
            phase_values.update(corpus["values"])
        else:
            skipped.append("corpus")
    if tracer and "stream" in spec:
        if _time_for("stream", spec):
            stream = phases.run_stream(spark, spec, tracer, spec["out_dir"])
            passes += stream["ops"]
            equality.append(stream["equality"])
            phase_values.update(stream["values"])
        else:
            skipped.append("stream")
    if tracer:
        spark.stop()  # closes the event log; an untraced JVM is just killed
    result = {
        "t_import": T_IMPORT,
        "t_main": t0,
        "spark_ready": spark_ready,
        # set-up ends with the session when the cold job is the measured
        # operation, else with the cold pass (JVM start + codegen JIT)
        "setup_end": spark_ready if wl.cold_only else cold_end,
        "passes": passes,
        "equality": equality,
        "spans": tracer.spans if tracer else [],
        "trace_overhead": tracer.overhead if tracer else {},
        "phase_values": phase_values,
        "phases_skipped": skipped,
    }
    with open(sys.argv[2], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
