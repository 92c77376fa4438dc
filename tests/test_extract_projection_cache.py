"""The extraction projection (and assign_visits' window Columns) is built
once per live SparkContext and reused by every later plan.

Pins: a warm build reuses the cached Column objects and gives the same
schema and rows as a fresh build; the four (with_sections,
arrow_extractor) keys stay apart; a different SparkContext misses the
cache; a warm rebuild of assign_visits(extract_turns(t)) costs a few
hundred py4j round trips at most instead of thousands.
"""

import threading
import time

import pytest
from py4j import clientserver

from medical_pdf__ocr_structured_ccd_ccda_output_spark import session
from medical_pdf__ocr_structured_ccd_ccda_output_spark.fixtures import (
    transcripts_spark_df,
)
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import (
    extract,
    sessionize,
)

KEYS = [(ws, arrow) for ws in (True, False) for arrow in (True, False)]


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
    p1 = extract._projection(transcripts, True, True)
    second = sessionize.assign_visits(extract.extract_turns(transcripts))
    p2 = extract._projection(transcripts, True, True)
    assert len(builds) == 1 and len(windows) == 1
    assert p1 is p2
    assert all(a[k] is b[k] for a, b in zip(p1, p2) for k in a)

    assert (second.schema, second.columns) == (first.schema, first.columns)
    assert _rows(second) == _rows(first)


def test_four_keys_do_not_collide(spark, transcripts, monkeypatch):
    monkeypatch.setattr(session, "_PER_CONTEXT", {})
    projections = {k: extract._projection(transcripts, *k) for k in KEYS}
    assert len({id(p) for p in projections.values()}) == 4
    for (ws, arrow), groups in projections.items():
        assert ("sections" in groups[-1]) == ws
        out = extract.extract_turns(transcripts, with_sections=ws,
                                    arrow_extractor=arrow)
        assert ("sections" in out.columns) == ws
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("ArrowEvalPython" in plan) == arrow
        # a second call with the same key is a hit on the same entry
        assert extract._projection(transcripts, ws, arrow) is groups


def test_other_spark_context_misses(spark, transcripts, monkeypatch):
    monkeypatch.setattr(session, "_PER_CONTEXT", {})
    ours = extract._projection(transcripts, True, True)
    want = _rows(extract.extract_turns(transcripts))

    other = type("OtherContext", (), {})()
    monkeypatch.setattr(session, "_context_of", lambda df: other)
    theirs = extract._projection(transcripts, True, True)
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
    # a cold build of the same plan sends ~4,500
    assert 0 < len(sent) < 500, len(sent)


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
