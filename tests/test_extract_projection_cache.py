"""The extraction projection (and assign_visits' window Columns) is built
once per live SparkContext and reused by every later plan.

Pins: a warm build reuses the cached Column objects and gives the same
schema and rows as a fresh build; the two with_sections keys stay
apart, and both plans extract through the Arrow UDF; the executed plan
runs that one UDF and none of the JVM feature expressions; the
unsectioned variant never segments sections; a different SparkContext
misses the cache; a warm rebuild of assign_visits(extract_turns(t))
costs a few hundred py4j round trips at most.
"""

import threading
import time

import pyarrow as pa
import pytest
from py4j import clientserver
from pyspark.sql import functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark import rules, session
from medical_pdf__ocr_structured_ccd_ccda_output_spark.fixtures import (
    transcripts_spark_df,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import (
    extract,
    sessionize,
)


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_spark_df(spark, 25, seed=11).cache()


def _rows(df):
    return sorted((r["conv_id"], r["turn_idx"], repr(r)) for r in df.collect())


def _counting(monkeypatch, module, name):
    calls = []
    orig = getattr(module, name)

    def wrapped(*a, **kw):
        calls.append(a)
        return orig(*a, **kw)

    monkeypatch.setattr(module, name, wrapped)
    return calls


def test_warm_build_reuses_cached_columns(spark, transcripts, monkeypatch):
    monkeypatch.setattr(session, "_PER_CONTEXT", {})
    builds = _counting(monkeypatch, extract, "_build_projection")
    windows = _counting(monkeypatch, sessionize, "_visit_columns")

    first = sessionize.assign_visits(extract.extract_turns(transcripts))
    p1 = extract._projection(transcripts, True)
    second = sessionize.assign_visits(extract.extract_turns(transcripts))
    p2 = extract._projection(transcripts, True)
    assert len(builds) == 1 and len(windows) == 1
    assert p1 is p2
    assert all(a[k] is b[k] for a, b in zip(p1, p2) for k in a)

    assert (second.schema, second.columns) == (first.schema, first.columns)
    assert _rows(second) == _rows(first)


def test_section_keys_do_not_collide(spark, transcripts, monkeypatch):
    monkeypatch.setattr(session, "_PER_CONTEXT", {})
    projections = {ws: extract._projection(transcripts, ws)
                   for ws in (True, False)}
    assert len({id(p) for p in projections.values()}) == 2
    for ws, groups in projections.items():
        assert ("sections" in groups[-1]) == ws
        out = extract.extract_turns(transcripts, with_sections=ws)
        assert ("sections" in out.columns) == ws
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "ArrowEvalPython" in plan
        # a second call with the same key is a hit on the same entry
        assert extract._projection(transcripts, ws) is groups


def _plan_nodes(plan):
    """(node, expression class names) for every node of a physical plan."""
    def expression_classes(e):
        kids = e.children()
        yield e.getClass().getSimpleName()
        for i in range(kids.size()):
            yield from expression_classes(kids.apply(i))

    exprs = plan.expressions()
    names = [n for i in range(exprs.size())
             for n in expression_classes(exprs.apply(i))]
    yield plan, names
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


@pytest.mark.parametrize("with_sections", [True, False])
def test_plan_runs_one_udf_and_no_jvm_features(spark, transcripts,
                                               with_sections):
    """Every field comes from one ArrowEvalPython node with one Python
    UDF, evaluated once; none of the functions/* twins' higher-order
    lambdas or regexes runs."""
    out = extract.extract_turns(transcripts, with_sections=with_sections)
    out.write.format("noop").mode("overwrite").save()
    nodes = list(_plan_nodes(out._jdf.queryExecution().executedPlan()))
    arrow = [n for n, _ in nodes if n.nodeName() == "ArrowEvalPython"]
    assert len(arrow) == 1
    assert arrow[0].udfs().size() == 1
    assert arrow[0].evalType() == 250  # SQL_SCALAR_ARROW_UDF
    classes = {c for _, names in nodes for c in names}
    assert "PythonUDF" in classes
    assert not classes & {"ArrayTransform", "ArrayFilter", "ZipWith",
                          "RLike", "RegExpReplace", "RegExpExtract"}


def test_unsectioned_variant_never_segments(spark, monkeypatch):
    """The with_sections=False UDF never calls rules.extract_sections;
    the sectioned one does."""
    built = {}
    arrow_udf = F.arrow_udf

    def capture(fn, return_type):
        built[return_type] = fn
        return arrow_udf(fn, return_type)

    monkeypatch.setattr(F, "arrow_udf", capture)
    for ws in (True, False):
        extract._build_projection(ws)
    monkeypatch.undo()

    calls = []
    monkeypatch.setattr(rules, "extract_sections",
                        lambda text: calls.append(text) or [])
    text = pa.array(["MEDICATIONS:\n- aspirin 81 mg", None])
    unsectioned = built[extract._return_type(False)](text)
    assert calls == []
    assert "sections" not in [f.name for f in unsectioned.type]
    sectioned = built[extract._return_type(True)](text)
    assert len(calls) == 2
    assert "sections" in [f.name for f in sectioned.type]


def test_other_spark_context_misses(spark, transcripts, monkeypatch):
    monkeypatch.setattr(session, "_PER_CONTEXT", {})
    ours = extract._projection(transcripts, True)
    want = _rows(extract.extract_turns(transcripts))

    other = type("OtherContext", (), {})()
    monkeypatch.setattr(session, "_context_of", lambda df: other)
    theirs = extract._projection(transcripts, True)
    assert theirs is not ours
    # only the current context's entries are kept
    assert all(k[0] is other for k in session._PER_CONTEXT)
    assert _rows(extract.extract_turns(transcripts)) == want


def test_warm_rebuild_py4j_round_trips(spark, transcripts, monkeypatch):
    def build():
        return sessionize.assign_visits(extract.extract_turns(transcripts))

    build()
    sent = []
    orig = clientserver.ClientServerConnection.send_command
    me = threading.get_ident()

    # count this thread only: py4j's finalizer thread sends the deferred
    # "forget object" commands of earlier tests' dead proxies meanwhile
    def send_command(conn, command, *a, **kw):
        if threading.get_ident() == me:
            sent.append(command)
        return orig(conn, command, *a, **kw)

    monkeypatch.setattr(clientserver.ClientServerConnection, "send_command",
                        send_command)
    build()
    monkeypatch.undo()
    # a cold build of the same plan sends ~340 (UDF, field Columns and
    # window Columns)
    assert 0 < len(sent) < 200, len(sent)


def test_concurrent_callers_build_once(monkeypatch):
    # more threads than cores race on one cold key: the lock must leave
    # exactly one build and hand every caller the same object
    import sys

    ctx = type("Context", (), {})()
    monkeypatch.setattr(session, "_PER_CONTEXT", {})
    monkeypatch.setattr(session, "_context_of", lambda df: ctx)
    builds, got = [], []

    start = threading.Barrier(16)

    def build():
        builds.append(1)
        time.sleep(0.01)  # a real build waits on ~4,000 py4j round trips
        return object()

    def worker():
        start.wait()
        for _ in range(200):
            got.append(session.context_cached(None, "k", build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(got) == 16 * 200 and all(g is got[0] for g in got)
