"""Repo benchmark: one workload, one seed, one fresh Spark process.

  python3 perfbench/run.py --workload extract_hot --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):
  extract_hot   assign_visits(extract_turns(t)) into a noop sink
  pipeline_job  job.main, the spark-submit path with all its sinks

Set-up generates the inputs from the seed, then starts the program in a
fresh Python process and JVM on local[nproc].  The last stdout line is
the result: {"correct", "attempted", "failed", "metrics"}.  With
``--trace 0`` the metrics are the end-to-end ones.  With ``--trace 1``
the process is traced instead (Spark event log on, calls into the
package wrapped from perfbench/tracing.py), runs the corpus-dedup
(extract_hot) or stream-ingest (pipeline_job) phase after its passes,
and the metrics are the per-layer ones.  The line before the result
holds the run's details and host metadata.  All scratch files live in
a per-run directory of the checkout, deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "medical_pdf__ocr_structured_ccd_ccda_output_spark"
# each run must finish within 180 s; leave room for teardown
RUN_DEADLINE_S = 170


def _worker_env(wdir: str, traced: bool) -> dict:
    import host

    tmp = os.path.join(wdir, "tmp")
    local = os.path.join(wdir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    submit = [
        "--driver-java-options", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        events = os.path.join(wdir, "events")
        os.makedirs(events)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.logBlockUpdates.enabled=true",
        ]
    env = dict(os.environ)
    env.update({
        # Spark's Python workers import the package (applyInPandas, UDFs)
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(host.cores()),
        "SPARK_DRIVER_MEM": f"{host.driver_mem_mb()}m",
        "TMPDIR": tmp,
    })
    return env


def run_worker(spec: dict, wdir: str, traced: bool) -> dict:
    """Start worker.py in a fresh process; return its result with the
    set-up time and the peak resident memory of its process tree."""
    import host

    os.makedirs(wdir)
    spec = {**spec, "traced": traced, "out_dir": os.path.join(wdir, "out"),
            "deadline": T0 + RUN_DEADLINE_S}
    spec_path = os.path.join(wdir, "spec.json")
    result_path = os.path.join(wdir, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = _worker_env(wdir, traced)
    timeout = RUN_DEADLINE_S - (time.time() - T0)
    with open(os.path.join(wdir, "worker.log"), "w") as log:
        cpu_before = host.cpu_times()
        spawned = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, result_path],
            cwd=wdir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            with host.RssSampler(proc.pid) as rss:
                code = proc.wait(timeout=max(1.0, timeout))
        finally:
            # none of the JVM, the PySpark daemon and the Python workers
            # may outlive the run; all of them are in the worker's session
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            host.kill_session(proc.pid)
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(wdir, "worker.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(result_path) as f:
        res = json.load(f)
    res["spawned"] = spawned
    res["steal_share"] = host.steal_share(cpu_before, host.cpu_times())
    res["setup_s"] = res["setup_end"] - spawned
    res["peak_rss_mb"] = rss.peak / 2**20
    if traced:
        res["events_dir"] = os.path.join(wdir, "events")
    return res


def _measured(res: dict) -> list[dict]:
    return [p for p in res["passes"] if p["measured"] and "rows" in p]


# layers of the phases a traced worker runs after its passes
# (perfbench/phases.py): the corpus on extract_hot, the stream on
# pipeline_job.  The other workload reports them as 0, like any layer it
# does not run.
PHASE_LAYERS = {
    "corpus": ("corpus_job.", "corpus_incremental.", "operators.graph."),
    "stream": ("streaming.",),
}


def end_to_end(res: dict) -> dict:
    """The end-to-end metrics, or none when no measured pass completed."""
    measured = _measured(res)
    if not measured:
        return {}
    return {
        "turns_per_s": {"value": statistics.median(
            p["rows"] / p["seconds"] for p in measured), "unit": "turns/s"},
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
    }


def per_layer(traced: dict, spec: dict) -> dict:
    """The per-layer metrics, or none when no measured pass completed.
    A phase that failed, or was skipped for lack of time, leaves its
    metrics out."""
    import tracing

    measured = [str(p["idx"]) for p in _measured(traced)]
    if not measured:
        return {}
    values = tracing.layer_metrics(traced["events_dir"], spec["table_dir"],
                                   traced["spans"], measured,
                                   traced["phase_values"])
    values["trace.overhead_s"] = statistics.median(
        traced["trace_overhead"].get(p, 0.0) for p in measured)
    # the traced pass time: against the untraced runs' pass time it gives
    # the whole tracing overhead, event log included
    values["trace.pass_s"] = statistics.median(
        p["seconds"] for p in _measured(traced))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    for phase, prefixes in PHASE_LAYERS.items():
        if phase not in spec:
            values.update({k: 0 for k in units if k.startswith(prefixes)})
        elif phase in traced["phases_skipped"]:
            values = {k: v for k, v in values.items() if not k.startswith(prefixes)}
    return {k: {"value": values[k], "unit": u} for k, u in units.items()
            if k in values}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["extract_hot", "pipeline_job"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--inject", choices=["corrupt", "raise"],
                   help="self-test: corrupt one sampled conversation's "
                        "output, or make every pass raise; the run must "
                        "report its operations as failed")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import host
    import inputs

    # a SIGTERM ends the run through the clean-up below, not around it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host.become_subreaper()

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        meta = host.metadata()
        t = time.time()
        spec = inputs.prepare(args.workload, args.seed,
                              os.path.join(work, "input"), bool(args.trace))
        spec.update(workload=args.workload, seconds=args.seconds,
                    inject=args.inject)
        gen_s = time.time() - t
        res = run_worker(spec, os.path.join(work, "w0"), traced=bool(args.trace))
        metrics = per_layer(res, spec) if args.trace else end_to_end(res)
    finally:
        host.kill_descendants()
        shutil.rmtree(work, ignore_errors=True)

    # every pass, build, admit and trigger is an operation
    passes = res["passes"]
    failed = sum(1 for q in passes if not q["ok"])
    checked = sum(e["checked"] for e in res["equality"])
    equal = sum(e["equal"] for e in res["equality"])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {**meta, "steal_share": round(res["steal_share"], 4)},
        "inputs": spec["properties"], "gen_s": gen_s,
        "setup": {"process_to_spark_s": res["spark_ready"] - res["spawned"],
                  "cold_pass_s": passes[0]["seconds"],
                  "setup_s": res["setup_s"]},
        "passes": [{k: q.get(k) for k in ("idx", "kind", "seconds", "cpu_s", "rows", "ok")}
                   for q in passes],
        "problems": [q["problems"] for q in passes if q["problems"]][:3],
        "phases_skipped": res["phases_skipped"],
        "error_rate": failed / len(passes),
        "turn_equality": equal / checked if checked else 0.0,
        "turns_checked": checked,
        "run_s": time.time() - T0,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0 and checked > 0 and equal == checked,
        "attempted": len(passes),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
