"""Traced runs: spans recorded around calls into the package, plus the
Spark event log, reduced to the per-layer metrics.

Nothing here adds tracing inside the package.  The traced worker wraps
functions of the package from these files (``sources.io.write_table``,
``Manifest.mark_done``, ``corpus_incremental.incremental_dedup`` and the
closure loop of ``operators.graph``) and tags every Spark job with a
description ``pb:<tag>:<sink>``, where the tag is a pass number or a
phase (``build``, ``admit``, ``stream``).  The event log (enabled from
outside the package through ``PYSPARK_SUBMIT_ARGS``) then maps each
stage to a tag and, through the SQL operators whose metrics it updated
or the sink whose write submitted it, to a layer named after the repo's
modules.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from checks import DEDUPED_SINKS, ENTITY_SINKS, parquet_rows

# layer of the work a sink's write submits, for stages that run none of
# the operators below (those are attributed by operator)
SINK_LAYER = {
    "visit_spans": "operators.rollups",
    "documents": "operators.rollups",
    "metrics": "operators.rollups",
    "data_quality": "operators.rollups",
    "dedup_log": "operators.entities",
    "ccd_xml": "renderers.xml",
    "manifest": "sources.manifest",
    **{s: "operators.entities" for s in ENTITY_SINKS},
}
SELF_LAYERS = ("operators.extract", "operators.sessionize",
               "operators.entities", "operators.dedup", "operators.rollups",
               "renderers.xml")


def _tree_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class Tracer:
    """In-memory spans (id, name, parent, start, end, attrs), written
    out by the worker when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.tag = "-"
        self.sc = None
        # seconds per tag the tracer spends on its own work: job
        # descriptions and measuring what each write left on disk
        self.overhead: dict[str, float] = {}

    @contextmanager
    def own_work(self):
        start = time.time()
        try:
            yield
        finally:
            self.overhead[self.tag] = self.overhead.get(self.tag, 0.0) \
                + time.time() - start

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "tag": self.tag, "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def describe(self, what: str) -> None:
        with self.own_work():
            self.sc.setJobDescription(f"pb:{self.tag}:{what}")

    def instrument(self, spark) -> None:
        """Wrap the package's sink writes, manifest commits, the admit's
        index probe and the closure loop."""
        from medical_pdf__ocr_structured_ccd_ccda_output_spark import (
            corpus_incremental,
        )
        from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import graph
        from medical_pdf__ocr_structured_ccd_ccda_output_spark.sources import (
            io as tio,
            manifest,
        )

        self.sc = spark.sparkContext
        write_table = tio.write_table
        mark_done = manifest.Manifest.mark_done
        stage_mark_done = manifest.StageManifest.mark_done
        incremental_dedup = corpus_incremental.incremental_dedup
        cc_loop = graph._cc_loop

        def traced_write(df, location, name, *a, **kw):
            self.describe(name)
            with self.span("sources.io.write_table", sink=name) as rec:
                write_table(df, location, name, *a, **kw)
            with self.own_work():
                path = os.path.join(location, f"{name}.parquet")
                rec["bytes"], rec["files"] = _tree_bytes_files(path)
                rec["rows"] = parquet_rows(path)
            self.describe("-")

        def commit(mark):
            def traced_mark_done(mself, *a, **kw):
                self.describe("manifest")
                with self.span("sources.manifest.commit"):
                    mark(mself, *a, **kw)
                self.describe("-")
            return traced_mark_done

        def traced_incremental_dedup(*a, **kw):
            with self.span("corpus_incremental.incremental_dedup"):
                return incremental_dedup(*a, **kw)

        def traced_cc_loop(labels, label_ids, sym, max_iter, tr):
            # the loop checkpoints its label table once per iteration
            mark = tr.mark
            with self.span("operators.graph.closure") as rec:
                rec["iterations"] = 0

                def counted_mark(*a, **kw):
                    rec["iterations"] += 1
                    return mark(*a, **kw)

                tr.mark = counted_mark
                try:
                    return cc_loop(labels, label_ids, sym, max_iter, tr)
                finally:
                    del tr.mark

        tio.write_table = traced_write
        manifest.Manifest.mark_done = commit(mark_done)
        manifest.StageManifest.mark_done = commit(stage_mark_done)
        corpus_incremental.incremental_dedup = traced_incremental_dedup
        graph._cc_loop = traced_cc_loop


# --------------------------------------------------------------------------
# event log -> per-layer metrics
# --------------------------------------------------------------------------

def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _nearest_exchanges(node):
    out = []
    for c in node.get("children", []):
        if c["nodeName"] == "Exchange":
            out.append(c)
        else:
            out.extend(_nearest_exchanges(c))
    return out


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def _metrics_for(node) -> dict:
    return {m["name"]: m["accumulatorId"] for m in node["metrics"]}


class EventLog:
    """The parts of one Spark event log the layer metrics need."""

    def __init__(self, path: str, table_dir: str):
        self.acc_node: dict[int, str] = {}
        self.window_read: set[int] = set()      # conv_id exchange, read side
        self.window_written: set[int] = set()   # conv_id exchange, map side
        self.scan_rows: set[int] = set()        # transcripts scans
        self.arrow_sent: set[int] = set()
        self.arrow_bytes: set[int] = set()
        self.pandas_sent: set[int] = set()
        self.stage_tag: dict[int, tuple[str, str]] = {}
        self.job_tag: list[str] = []
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.blocks: dict[str, dict[str, int]] = {}
        current_tag = None
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith(("SQLExecutionStart",
                                  "SQLAdaptiveExecutionUpdate")):
                    self._plan(e["sparkPlanInfo"], table_dir)
                elif kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    if desc.startswith("pb:"):
                        _, current_tag, sink = desc.split(":", 2)
                        self.job_tag.append(current_tag)
                        for sid in e["Stage IDs"]:
                            self.stage_tag[sid] = (current_tag, sink)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if "Submission Time" in info and "Completion Time" in info:
                        self.stages[info["Stage ID"]] = info
                elif kind == "SparkListenerTaskEnd":
                    if e.get("Task Metrics"):
                        self.tasks.setdefault(e["Stage ID"], []).append(
                            e["Task Metrics"])
                elif kind == "SparkListenerBlockUpdated":
                    b = e["Block Updated Info"]
                    if current_tag is not None and b["Block ID"].startswith("rdd_"):
                        size = b["Memory Size"] + b["Disk Size"]
                        blocks = self.blocks.setdefault(current_tag, {})
                        blocks[b["Block ID"]] = max(
                            size, blocks.get(b["Block ID"], 0))

    def _plan(self, root, table_dir: str) -> None:
        for node in _walk(root):
            name = node["nodeName"]
            m = _metrics_for(node)
            for acc in m.values():
                self.acc_node[acc] = name
            if name == "Window":
                for ex in _nearest_exchanges(node):
                    em = _metrics_for(ex)
                    self.window_read.update(
                        em[k] for k in ("records read",) if k in em)
                    self.window_written.update(
                        em[k] for k in ("shuffle bytes written",) if k in em)
            elif name.startswith("Scan parquet") and table_dir in str(
                    node.get("metadata", {}).get("Location", "")):
                if "number of output rows" in m:
                    self.scan_rows.add(m["number of output rows"])
            elif name == "ArrowEvalPython":
                self.arrow_sent.update(
                    m[k] for k in ("data sent to Python workers",) if k in m)
                self.arrow_bytes.update(
                    m[k] for k in ("data sent to Python workers",
                                   "data returned from Python workers")
                    if k in m)
            elif name == "FlatMapGroupsInPandas":
                self.pandas_sent.update(
                    m[k] for k in ("data sent to Python workers",) if k in m)

    def _accs(self, info) -> dict[int, int]:
        out = {}
        for a in info.get("Accumulables", []):
            try:
                out[a["ID"]] = int(a["Value"])
            except (TypeError, ValueError):
                continue
        return out

    def layer_of(self, info, sink: str) -> str:
        accs = {k for k, v in self._accs(info).items() if v > 0}
        if accs & self.arrow_sent:
            return "operators.extract"
        if accs & self.window_read:
            return "operators.sessionize"
        if accs & self.pandas_sent:
            return "operators.dedup"
        if sink in SINK_LAYER:
            return SINK_LAYER[sink]
        return "job" if sink in ("-", "noop") else "sources.io"

    def stages_of(self, tag: str) -> list[int]:
        return [s for s, (t, _) in self.stage_tag.items()
                if t == tag and s in self.stages]

    def task_sum(self, tag: str, metric) -> float:
        return sum(metric(t) for s in self.stages_of(tag)
                   for t in self.tasks.get(s, []))

    def pass_metrics(self, p: str, spans: list[dict]) -> dict:
        """Per-layer metrics of pass ``p``."""
        stage_ids = self.stages_of(p)
        by_layer: dict[str, list[int]] = {}
        for s in stage_ids:
            layer = self.layer_of(self.stages[s], self.stage_tag[s][1])
            by_layer.setdefault(layer, []).append(s)

        def interval(s):
            i = self.stages[s]
            return i["Submission Time"], i["Completion Time"]

        def tasks(ss):
            return [t for s in ss for t in self.tasks.get(s, [])]

        def acc_sum(ss, ids):
            return sum(v for s in ss for k, v in self._accs(self.stages[s]).items()
                       if k in ids)

        def acc_count(ss, ids):
            return len({k for s in ss for k, v in self._accs(self.stages[s]).items()
                        if k in ids and v > 0})

        out = {f"{layer}.self_s": _union_s(interval(s) for s in by_layer.get(layer, []))
               for layer in SELF_LAYERS}
        ext = tasks(by_layer.get("operators.extract", []))
        out["operators.extract.cpu_s"] = sum(t["Executor CPU Time"] for t in ext) / 1e9
        out["operators.extract.gc_s"] = sum(t["JVM GC Time"] for t in ext) / 1e3
        out["operators.sessionize.shuffle_bytes"] = acc_sum(stage_ids, self.window_written)
        skew = [1.0]
        for s in by_layer.get("operators.sessionize", []):
            run = sorted(t["Executor Run Time"] for t in self.tasks.get(s, []))
            if len(run) > 1 and statistics.median(run) > 0:
                skew.append(run[-1] / statistics.median(run))
        out["operators.sessionize.task_skew"] = max(skew)
        out["functions.cleaning.python_bytes"] = acc_sum(stage_ids, self.arrow_bytes)
        out["functions.cleaning.executions"] = acc_count(stage_ids, self.arrow_sent)
        out["operators.dedup.executions"] = acc_count(stage_ids, self.pandas_sent)
        out["job.input_scans"] = acc_count(stage_ids, self.scan_rows)
        out["job.spark_jobs"] = self.job_tag.count(p)
        all_tasks = tasks(stage_ids)
        out["job.tasks"] = len(all_tasks)
        out["job.persist_bytes"] = sum(self.blocks.get(p, {}).values())
        run_s = sum(t["Executor Run Time"] for t in all_tasks) / 1e3
        cpu_s = sum(t["Executor CPU Time"] for t in all_tasks) / 1e9
        out["spark.gc_s"] = sum(t["JVM GC Time"] for t in all_tasks) / 1e3
        out["spark.spill_bytes"] = sum(
            t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"] for t in all_tasks)
        out["spark.fetch_wait_s"] = sum(
            t["Shuffle Read Metrics"]["Fetch Wait Time"] for t in all_tasks) / 1e3
        out["spark.cpu_over_run"] = cpu_s / run_s if run_s else 0.0

        # spans of this pass: sink writes and manifest commits
        mine = [s for s in spans if s["tag"] == p]
        writes = [s for s in mine if s["name"] == "sources.io.write_table"]
        rows = {s["sink"]: s.get("rows") or 0 for s in writes}
        out["sources.io.write_s"] = sum(s["end"] - s["start"] for s in writes)
        out["sources.io.bytes_written"] = sum(s["bytes"] for s in writes)
        out["sources.io.files_written"] = sum(s["files"] for s in writes)
        out["sources.manifest.commit_s"] = sum(
            s["end"] - s["start"] for s in mine
            if s["name"] == "sources.manifest.commit")
        out["renderers.xml.bytes"] = sum(
            s["bytes"] for s in writes if s["sink"] == "ccd_xml")
        out["operators.entities.rows_out"] = sum(rows.get(k, 0) for k in ENTITY_SINKS)
        kept = sum(rows.get(k, 0) for k in DEDUPED_SINKS)
        merged = rows.get("dedup_log", 0)
        out["operators.dedup.kept_ratio"] = kept / (kept + merged) if kept + merged else 0.0
        return out

    def phase_metrics(self, spans: list[dict]) -> dict:
        """Layer values of the corpus build and admit read from the
        event log and the spans."""
        def span_s(name, tag, **attrs):
            return sum(s["end"] - s["start"] for s in spans
                       if s["name"] == name and s["tag"] == tag
                       and all(s.get(k, "").startswith(v) for k, v in attrs.items()))

        return {
            "corpus_job.shuffle_bytes": self.task_sum(
                "build", lambda t: t["Shuffle Write Metrics"]["Shuffle Bytes Written"]),
            "operators.graph.iterations": sum(
                s["iterations"] for s in spans
                if s["name"] == "operators.graph.closure" and s["tag"] == "build"),
            # the probe: planning the admit's index joins (its eager
            # closure runs here) and executing them into the decisions
            "corpus_incremental.probe_s": span_s(
                "corpus_incremental.incremental_dedup", "admit")
            + span_s("sources.io.write_table", "admit", sink="inc_decisions_"),
            "corpus_incremental.index_bytes_read": self.task_sum(
                "admit", lambda t: t["Input Metrics"]["Bytes Read"]),
        }


def layer_metrics(event_log_dir: str, table_dir: str, spans: list[dict],
                  passes: list[str], phase_values: dict) -> dict:
    """Median over ``passes`` of every per-pass layer metric, the session
    start span, and the values of the corpus and stream phases."""
    logs = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, got {logs}")
    log = EventLog(logs[0], table_dir)
    per_pass = [log.pass_metrics(p, spans) for p in passes]
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["session.start_s"] = next(
        s["end"] - s["start"] for s in spans if s["name"] == "session.start")
    if phase_values:
        out.update(phase_values)
        out.update(log.phase_metrics(spans))
    return out
