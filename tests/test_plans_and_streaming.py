"""Plan-shape pins (pushdown, pruning, broadcast, shuffle budget) and
the streaming smoke test."""

import os

from pyspark.sql import functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark import fixtures
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import extract_turns
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import assign_visits
from medical_pdf__ocr_structured_ccd_ccda_output_spark.plans.inspect import (
    broadcast_join_count,
    has_pushed_filters,
    read_schema_columns,
    shuffle_exchange_count,
)


def test_filter_pushdown_and_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1996-01-01").select("l_orderkey", "l_quantity")
    assert has_pushed_filters(q)
    cols = read_schema_columns(q)
    # column pruning: only the 3 needed columns are read
    assert set(cols) <= {"l_orderkey", "l_quantity", "l_shipdate"}


def test_small_dims_broadcast(spark, sf_dir):
    import __spark_entry__ as entry
    q = entry.queries()["region_revenue"](spark, sf_dir)
    assert broadcast_join_count(q) >= 3  # customer, nation, region


def test_extraction_shuffle_budget(spark, tmp_path):
    """The extraction+sessionize pipeline must cost exactly ONE shuffle
    (the conv_id ordering window).  A regression adding shuffles here
    multiplies cost at 100 TB."""
    p = str(tmp_path / "t.parquet")
    fixtures.transcripts_spark_df(spark, 10, seed=1).write.parquet(p)
    t = spark.read.parquet(p)
    out = assign_visits(extract_turns(t, with_sections=True))
    assert shuffle_exchange_count(out) == 1


def test_extractor_variants_agree(spark):
    """The Arrow extractor equals the JVM clean_text_expr reference the
    clean_extract contract query runs, row for row."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.cleaning import (
        clean_text_expr,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.confidence import (
        confidence_expr,
    )

    df = fixtures.transcripts_spark_df(spark, 15, seed=3)
    a = extract_turns(df, with_sections=False) \
        .select("conv_id", "turn_idx", "text_clean", "confidence")
    jvm_clean = clean_text_expr(F.col("text"))
    b = df.select("conv_id", "turn_idx", jvm_clean.alias("text_clean"),
                  confidence_expr(jvm_clean).alias("confidence"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_streaming_extraction(spark, tmp_path):
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.streaming.stream import (
        run_stream_to_parquet,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = fixtures.transcripts_spark_df(spark, 8, seed=5)
    df.write.parquet(in_dir)
    n = df.count()

    q = run_stream_to_parquet(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    assert got.count() == n
    assert "visit_id" in got.columns and "text_clean" in got.columns
    # restart with no new files -> no duplicates (checkpoint dedup)
    q2 = run_stream_to_parquet(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n


def test_stateful_sessionize_cross_batch(spark, tmp_path):
    """A conversation split across two micro-batches must keep one
    consistent visit numbering (state carries boundary_count), matching
    the batch W2 running sum on the full data."""
    import time

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.dates import (
        is_visit_boundary_expr,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.streaming.stream import (
        TRANSCRIPT_SCHEMA,
        stateful_sessionize,
    )

    def turn(conv, i, boundary):
        text = ("Visit Date: 03/15/2024\nexam notes" if boundary
                else f"follow-up notes line {i}")
        return (conv, i, "user", text, None, None)

    rows = [turn("c1", 1, False), turn("c1", 2, True), turn("c1", 3, False),
            turn("c2", 1, True), turn("c2", 2, False)]
    rows2 = [turn("c1", 4, True), turn("c1", 5, False), turn("c2", 3, True)]

    in_dir = tmp_path / "sin"
    in_dir.mkdir()
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(str(in_dir))
    time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    spark.createDataFrame(rows2, TRANSCRIPT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(str(in_dir))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
        .withColumn("is_boundary", is_visit_boundary_expr(F.col("text")))
        .select("conv_id", "turn_idx", "is_boundary")
    )
    out = stateful_sessionize(stream)
    q = (
        out.writeStream.format("memory").queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["conv_id"], r["turn_idx"]): r["visit_id"]
        for r in spark.table("sess_out").collect()
    }
    # batch oracle over the full data
    full = spark.createDataFrame(rows + rows2, TRANSCRIPT_SCHEMA).withColumn(
        "is_boundary", is_visit_boundary_expr(F.col("text"))
    )
    exp = {
        (r["conv_id"], r["turn_idx"]): r["visit_id"]
        for r in assign_visits(full).collect()
    }
    assert got == exp
    # c1: turn1 opens visit_001 (boundary on first-ever turn ignored on
    # turn... none), boundary at 2 -> 002, boundary at 4 (batch 2) -> 003
    assert got[("c1", 4)] == "visit_003"
    assert got[("c2", 3)] == "visit_002"


def test_round2_plan_pins(spark, sf_dir):
    """Shuffle budgets for the round-2 operators: extraction queries
    stay narrow, aggregation queries cost exactly one exchange, and the
    fused entity-section XML stays at two (one section agg + one
    per-conv agg) instead of the per-kind agg + full-outer-join shape
    (15 exchanges) it replaced."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        "vitals_extract": 0,
        "allergies_plan": 0,
        "schema_warnings": 0,
        "encounter_type": 0,
        "ingest_quarantine": 1,
        "problems_merge": 1,
        "lab_conflicts": 1,
        "data_quality": 1,
        "ccd_xml_entities": 2,
        # S9 narrative shares the fused one-groupBy section agg: one
        # section exchange + one per-conversation exchange
        "human_doc": 2,
    }
    for name, budget in budgets.items():
        n = shuffle_exchange_count(qs[name](spark, sf_dir))
        assert n <= budget, f"{name}: {n} shuffles > budget {budget}"


def test_text_cap_bounds_state_and_shuffles(spark):
    """max_text_chars (round-2 VERDICT item 5): the combined-text sinks
    bound per-group aggregation state (past-cap turns collect null) and
    the running-sum window reuses the aggregation's partitioning — the
    capped rollups still cost exactly ONE shuffle each after the
    sessionize window, and the capped text is a strict prefix of the
    uncapped text with a truncation flag."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.rollups import (
        document_rollup,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import (
        visit_rollup,
    )

    t = fixtures.transcripts_spark_df(spark, 8, seed=5)
    turns = assign_visits(extract_turns(t, with_sections=True))

    capped = document_rollup(turns, max_text_chars=50)
    # sessionize window + cap window + groupBy ALL share one conv_id
    # exchange
    assert shuffle_exchange_count(capped) == 1
    full = {r["conv_id"]: r for r in document_rollup(turns).collect()}
    for row in capped.collect():
        f_raw = full[row["conv_id"]]["raw_ocr_text"]
        assert len(row["raw_ocr_text"]) <= 50
        assert f_raw.startswith(row["raw_ocr_text"])
        assert row["raw_text_truncated"] == (len(f_raw) > 50)

    # exact boundary: a cap equal to the full stripped length must NOT
    # flag (the flag is computed from fragment lengths, which overcount
    # the stripped text by a few chars — regression for the round-3
    # review finding)
    conv0, flen = next((c, len(r["raw_ocr_text"])) for c, r in full.items())
    for cap, want in ((flen, False), (flen - 1, True)):
        at_cap = {r["conv_id"]: r
                  for r in document_rollup(turns, max_text_chars=cap).collect()}
        assert at_cap[conv0]["raw_text_truncated"] == want, (conv0, cap)

    vcapped = visit_rollup(turns, max_text_chars=60)
    # window on (conv_id, visit_id) is satisfied by the conv_id hash
    # partitioning (subset clustering) -> still no extra exchange
    assert shuffle_exchange_count(vcapped) == 1
    vfull = {(r["conv_id"], r["visit_id"]): r
             for r in visit_rollup(turns).collect()}
    for row in vcapped.collect():
        f_raw = vfull[(row["conv_id"], row["visit_id"])]["raw_text"]
        assert len(row["raw_text"]) <= 60
        assert f_raw.startswith(row["raw_text"])
        assert row["raw_text_truncated"] == (len(f_raw) > 60)


def test_stateful_sessionize_out_of_order(spark, tmp_path):
    """stateful_sessionize_ooo: micro-batches deliver turns SHUFFLED
    across batch boundaries; the reorder buffer must still reproduce
    the batch W2 numbering exactly (round-2 VERDICT item 7)."""
    import time

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.functions.dates import (
        is_visit_boundary_expr,
    )
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.streaming.stream import (
        TRANSCRIPT_SCHEMA,
        stateful_sessionize_ooo,
    )

    def turn(conv, i, boundary):
        text = ("Visit Date: 03/15/2024\nexam notes" if boundary
                else f"follow-up notes line {i}")
        return (conv, i, "user", text, None, None)

    # c1: 8 turns (0-based, boundaries at 2 and 5), c2: 4 turns
    # (boundary at 1); arrivals shuffled across three micro-batches —
    # every batch contains turns whose predecessors are still missing
    batches = [
        [turn("c1", 3, False), turn("c1", 0, False), turn("c2", 2, False)],
        [turn("c1", 5, True), turn("c1", 1, False), turn("c2", 0, False),
         turn("c1", 2, True)],
        [turn("c1", 4, False), turn("c1", 7, False), turn("c1", 6, False),
         turn("c2", 1, True), turn("c2", 3, False)],
    ]
    in_dir = tmp_path / "ooo_in"
    in_dir.mkdir()
    for rows in batches:
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(str(in_dir))
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
        .withColumn("is_boundary", is_visit_boundary_expr(F.col("text")))
        .select("conv_id", "turn_idx", "is_boundary")
    )
    q = (
        stateful_sessionize_ooo(stream).writeStream.format("memory")
        .queryName("ooo_out").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ooo_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["conv_id"], r["turn_idx"]): r["visit_id"]
        for r in spark.table("ooo_out").collect()
    }
    full = spark.createDataFrame(
        [t for rows in batches for t in rows], TRANSCRIPT_SCHEMA
    ).withColumn("is_boundary", is_visit_boundary_expr(F.col("text")))
    exp = {
        (r["conv_id"], r["turn_idx"]): r["visit_id"]
        for r in assign_visits(full).collect()
    }
    assert got == exp
    assert len(got) == 12  # every turn emitted exactly once
    assert got[("c1", 7)] == "visit_003" and got[("c2", 3)] == "visit_002"


def test_stateful_sessionize_ooo_bounded_buffer(spark, tmp_path):
    """A genuine gap (lost turn) must not pin the reorder buffer:
    exceeding max_buffer force-flushes in sorted order, and late
    arrivals below the emitted watermark are dropped (bounded state,
    append-mode exactly-once)."""
    import time

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.streaming.stream import (
        stateful_sessionize_ooo,
    )
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("is_boundary", T.BooleanType()),
    ])
    in_dir = tmp_path / "gap_in"
    in_dir.mkdir()
    spark.createDataFrame(
        [("c1", 0, False), ("c1", 4, True), ("c1", 5, False)], schema
    ).coalesce(1).write.mode("append").parquet(str(in_dir))
    time.sleep(1.1)
    spark.createDataFrame([("c1", 2, True)], schema).coalesce(1) \
        .write.mode("append").parquet(str(in_dir))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        stateful_sessionize_ooo(stream, max_buffer=1)
        .writeStream.format("memory").queryName("gap_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gap_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["turn_idx"]: r["visit_id"]
           for r in spark.table("gap_out").collect()}
    # batch 1: 0 emits (visit_001); buffer {4,5} > max_buffer=1 ->
    # flush: 4 opens visit_002, 5 stays; batch 2: turn 2 < watermark ->
    # dropped
    assert got == {0: "visit_001", 4: "visit_002", 5: "visit_002"}


def test_ooo_deadline_survives_sustained_arrivals():
    """A group that receives data every micro-batch never reaches the
    GroupState timeout (each data invocation clears it), so the delay
    bound must hold via (a) the inline overdue check and (b) re-arming
    the timeout with the REMAINING time, not the full duration.  Drives
    the update fn directly with a fake GroupState and a controlled
    clock — deterministic, no wall-clock sleeps (round-3 review fix)."""
    import pandas as pd

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.streaming.stream import (
        _make_ooo_update,
    )

    class FakeState:
        def __init__(self):
            self.exists, self.hasTimedOut = False, False
            self._tuple, self.now, self.armed = None, 0, None

        @property
        def get(self):
            return self._tuple

        def getCurrentProcessingTimeMs(self):
            return self.now

        def update(self, t):
            self._tuple, self.exists = t, True

        def setTimeoutDuration(self, ms):
            self.armed = ms

    update = _make_ooo_update(max_buffer=100, flush_after_ms=1_000)

    def feed(state, now, rows, timed_out=False):
        state.now, state.hasTimedOut, state.armed = now, timed_out, None
        pdf = pd.DataFrame(rows, columns=["turn_idx", "is_boundary"])
        out = list(update(("c1",), [pdf] if rows else [], state))
        return list(out[0]["turn_idx"]) if out else []

    st = FakeState()
    # t=0: turns 2,3 arrive (0 lost) -> buffered, full timeout armed
    assert feed(st, 0, [(2, False), (3, True)]) == []
    assert st.armed == 1_000 and st._tuple[5] == 0
    # t=800: turn 5 arrives -> still buffered; streak start is kept and
    # the timeout is re-armed with the REMAINING 200ms, not 1000
    assert feed(st, 800, [(5, False)]) == []
    assert st.armed == 200 and st._tuple[5] == 0
    # t=1100: turn 7 arrives; deadline passed -> inline force-flush of
    # the whole buffer in sorted order, even though hasTimedOut=False
    assert feed(st, 1100, [(7, False)]) == [2, 3, 5, 7]
    assert st.armed is None and st._tuple[5] is None  # streak reset
    # post-flush watermark: late turn 4 is dropped; turn 8 is contiguous
    assert feed(st, 1200, [(4, False), (8, False)]) == [8]
    # pure-timeout path (no data): buffered turn force-flushes
    assert feed(st, 1300, [(10, True)]) == []
    assert st.armed == 1_000  # fresh streak -> full duration
    assert feed(st, 2400, [], timed_out=True) == [10]


def test_ooo_streak_resets_when_old_blocker_drains():
    """Round-3 review fix: when one batch both resolves the old streak's
    blocker AND delivers new out-of-order turns, the new turns must
    start a FRESH streak.  Inheriting the stale buffered_since_ms would
    force-flush turns that waited 0 ms and advance the watermark past
    their missing predecessors, permanently dropping legitimate turns."""
    import pandas as pd

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.streaming.stream import (
        _make_ooo_update,
    )

    class FakeState:
        def __init__(self):
            self.exists, self.hasTimedOut = False, False
            self._tuple, self.now, self.armed = None, 0, None

        @property
        def get(self):
            return self._tuple

        def getCurrentProcessingTimeMs(self):
            return self.now

        def update(self, t):
            self._tuple, self.exists = t, True

        def setTimeoutDuration(self, ms):
            self.armed = ms

    update = _make_ooo_update(max_buffer=100, flush_after_ms=1_000)

    def feed(state, now, rows, timed_out=False):
        state.now, state.hasTimedOut, state.armed = now, timed_out, None
        pdf = pd.DataFrame(rows, columns=["turn_idx", "is_boundary"])
        out = list(update(("c1",), [pdf] if rows else [], state))
        return list(out[0]["turn_idx"]) if out else []

    st = FakeState()
    # t=0: turns 0,1 emitted; turn 4 buffered (2,3 in flight) -> streak 0
    assert feed(st, 0, [(0, False), (1, False), (4, False)]) == [0, 1]
    assert st._tuple[5] == 0
    # t=1000 (deadline instant): 2,3 arrive — resolving the streak — plus
    # out-of-order 9.  The drain emits 2,3,4; 9 is a NEW streak and must
    # NOT be force-flushed against the t=0 clock
    assert feed(st, 1000, [(2, False), (3, False), (9, False)]) == [2, 3, 4]
    assert st._tuple[5] == 1000 and st.armed == 1_000  # fresh streak
    # t=1100: the in-flight 5,6,7,8 arrive and must still be accepted
    # (the buggy path had nxt=10 here, dropping all four as late)
    assert feed(st, 1100, [(5, False), (6, False), (7, False),
                           (8, False)]) == [5, 6, 7, 8, 9]
    # a pre-batch survivor KEEPS its streak: 12 buffered at t=2000...
    assert feed(st, 2000, [(12, False)]) == []
    assert st._tuple[5] == 2000
    # ...still blocked at t=2500 when 14 joins: streak start unchanged
    assert feed(st, 2500, [(14, False)]) == []
    assert st._tuple[5] == 2000 and st.armed == 500


def test_stateful_sessionize_ooo_timeout_flush(spark, tmp_path):
    """A LOST turn with fewer than max_buffer successors must not
    withhold its conversation forever: the processing-time timeout
    force-flushes the reorder buffer (under NoTimeout semantics this
    stream would emit zero rows for c1, since the buffer never exceeds
    max_buffer).  After the flush, arrivals below the watermark are
    dropped (append-mode exactly-once)."""
    import time

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.streaming.stream import (
        stateful_sessionize_ooo,
    )
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("is_boundary", T.BooleanType()),
    ])
    in_dir = tmp_path / "lost_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "lost_ckpt")
    out_dir = str(tmp_path / "lost_out")

    def run():
        # parquet sink, not memory: the memory sink cannot recover from
        # a checkpoint, and run 2 below restarts the query
        stream = spark.readStream.schema(schema).parquet(str(in_dir))
        q = (
            stateful_sessionize_ooo(stream, max_buffer=100,
                                    flush_after_ms=1_000)
            .writeStream.format("parquet").option("path", out_dir)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    def read_out():
        return {(r["conv_id"], r["turn_idx"]): r["visit_id"]
                for r in spark.read.parquet(out_dir).collect()}

    # turn 0 of c1 was lost in transit; 1 and 2 arrive and are buffered
    # (buffer size 2 << max_buffer=100, so no size trigger can fire —
    # only the timeout can emit them).  availableNow runs a wake-up
    # batch once the 1s timeout expires, flushing the buffer in sorted
    # order: turn 1 starts visit_001, boundary turn 2 -> visit_002.
    spark.createDataFrame(
        [("c1", 1, False), ("c1", 2, True)], schema
    ).coalesce(1).write.mode("append").parquet(str(in_dir))
    run()
    assert read_out() == {("c1", 1): "visit_001", ("c1", 2): "visit_002"}

    # run 2 (same checkpoint): the lost turn finally arrives, but it is
    # below the post-flush watermark -> dropped, not re-sequenced
    time.sleep(1.2)
    spark.createDataFrame(
        [("c1", 0, False), ("c2", 0, False)], schema
    ).coalesce(1).write.mode("append").parquet(str(in_dir))
    run()
    assert read_out() == {("c1", 1): "visit_001", ("c1", 2): "visit_002",
                          ("c2", 0): "visit_001"}
