"""Driver-side plan-construction probe: per repetition, the seconds and
py4j round trips it takes to BUILD ``assign_visits(extract_turns(t))``
and the pipeline's two halves (no Spark job runs while building), and
the seconds to EXECUTE each built plan into a noop sink.

The pipeline is built as ``job.main`` builds it: ``prepare_turns``
(``prepare_*``) blocks the first sink write, the extracted_turns one;
``build_outputs`` (``outputs_*``) runs while that write does.  Their sum
is what building the whole pipeline costs.

Usage: python tools/plan_build_probe.py [cores] [conversations] [reps]

Repetition 0 is cold (first build in the session, JIT not warm); the
warm repetitions are the steady-state cost every pass of a hot loop
pays.  One JSON line per repetition.

On a 4-vCPU host with ``4 300 3`` (3,172 turns), the extract build
sends 339 py4j commands cold (0.7-0.8 s) and 47 warm (0.02-0.06 s).
The prepare build sends 415 and the outputs build 13,156 (2.3-3.9 s),
cold or warm.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class Py4jCounter:
    """Counts the py4j commands this thread sends, by wrapping
    ``ClientServerConnection.send_command`` (PySpark's default
    pinned-thread gateway).  py4j's finalizer thread, which sends the
    deferred "forget object" commands of dead proxies, is not counted."""

    def __init__(self):
        from py4j import clientserver

        self.n = 0
        self._cls = clientserver.ClientServerConnection
        self._orig = self._cls.send_command
        counter, me = self, threading.get_ident()

        def send_command(conn, command, *a, **kw):
            if threading.get_ident() == me:
                counter.n += 1
            return counter._orig(conn, command, *a, **kw)

        self._cls.send_command = send_command

    def close(self):
        self._cls.send_command = self._orig


def timed(counter: Py4jCounter, fn):
    n0, t0 = counter.n, time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 3), counter.n - n0


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else os.cpu_count()
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.fixtures import (
        transcripts_spark_df,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import (
        extract_turns,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import (
        assign_visits,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.pipeline import (
        build_outputs,
        prepare_turns,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import get_spark

    spark = get_spark("plan_build_probe", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    t = transcripts_spark_df(spark, n_convs, seed=7).cache()
    t.count()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    counter = Py4jCounter()
    try:
        for rep in range(reps):
            out = {"rep": rep, "cores": cores, "turns": t.count()}
            plan, out["extract_build_s"], out["extract_py4j"] = timed(
                counter, lambda: assign_visits(extract_turns(t, with_sections=True)))
            _, out["extract_exec_s"], _ = timed(counter, lambda: noop(plan))
            stage, out["prepare_build_s"], out["prepare_py4j"] = timed(
                counter, lambda: prepare_turns(t))
            res, out["outputs_build_s"], out["outputs_py4j"] = timed(
                counter, lambda: build_outputs(spark, stage))
            _, out["pipeline_exec_s"], _ = timed(counter, lambda: noop(res.documents))
            print(json.dumps(out), flush=True)
    finally:
        counter.close()
        spark.stop()


if __name__ == "__main__":
    main()
