"""Structured Streaming surface.

The reference is batch-only (MAX_CONCURRENT_DOCUMENTS=1, no streaming
ops — LLM_TECHNICAL_SPEC.md:711); this wrapper is the engine's own
extension: the per-turn extraction stage is stateless, so it runs
unchanged under readStream.  Sessionization has two streaming modes:

* per-micro-batch (foreachBatch + the batch assign_visits) when a
  conversation's turns arrive within one batch window;
* cross-batch via ``stateful_sessionize`` (applyInPandasWithState):
  per-conversation GroupState carries (started, boundary_count) so a
  conversation spanning many micro-batches keeps one consistent
  visit numbering — bit-identical to the batch W2 running sum as long
  as turns arrive in turn_idx order across batches (within a batch
  they are sorted);
* ``stateful_sessionize_ooo``: the order-tolerant variant — a bounded
  per-conversation reorder buffer in GroupState emits turns only when
  the 0-based turn_idx sequence is contiguous, so ANY cross-batch
  shuffling of arrivals still reproduces batch W2 exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, types as T

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])


def extraction_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a transcripts parquet directory -> streaming
    extracted-turns DataFrame (stateless: every operator is a projection)."""
    from ..operators.extract import extract_turns

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    return extract_turns(stream, with_sections=True)


def run_stream_to_parquet(spark: SparkSession, input_dir: str,
                          output_dir: str, checkpoint_dir: str,
                          sessionize_per_batch: bool = True):
    """Streaming extraction with per-micro-batch sessionization via
    foreachBatch (exactly-once through the checkpointed sink)."""
    from ..operators.sessionize import assign_visits

    extracted = extraction_stream(spark, input_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        out = assign_visits(batch_df) if sessionize_per_batch else batch_df
        out.write.mode("append").parquet(output_dir)

    return (
        extracted.writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


SESSIONIZE_OUTPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("visit_seq", T.IntegerType(), False),
    T.StructField("visit_id", T.StringType(), False),
])

SESSIONIZE_STATE_SCHEMA = T.StructType([
    T.StructField("started", T.BooleanType(), False),
    T.StructField("boundary_count", T.IntegerType(), False),
])


def stateful_sessionize(extracted_stream: DataFrame) -> DataFrame:
    """Cross-batch visit assignment (W2) as a custom stateful streaming
    operator: groupBy(conv_id).applyInPandasWithState with per-
    conversation state (started, boundary_count).

    Replays chunking_service.py:44-103 exactly: a turn opens a new
    visit when is_boundary, unless it is the first turn the
    conversation has EVER produced (across all micro-batches).  Input
    must carry (conv_id, turn_idx, is_boundary); batches are sorted by
    turn_idx inside the group, cross-batch order is the stream's
    arrival order (turn-ordered ingestion is the documented contract —
    the same invariant the batch window's orderBy enforces)."""

    def update(key, pdf_iter, state):
        (conv_id,) = key
        if state.exists:
            started, b = state.get
        else:
            started, b = False, 0
        # one concat+sort over the whole micro-batch group: a group that
        # spans multiple Arrow chunks (>maxRecordsPerBatch rows) must not
        # be sorted chunk-by-chunk or turns process out of order
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("turn_idx")
            seqs = []
            for is_b in pdf["is_boundary"]:
                if started and bool(is_b):
                    b += 1
                seqs.append(b + 1)
                started = True
            yield pd.DataFrame({
                "conv_id": conv_id,
                "turn_idx": pdf["turn_idx"].astype("int32"),
                "visit_seq": pd.Series(seqs, index=pdf.index, dtype="int32"),
                "visit_id": [f"visit_{s:03d}" for s in seqs],
            })
        state.update((started, b))

    return (
        extracted_stream
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSIONIZE_OUTPUT_SCHEMA,
            stateStructType=SESSIONIZE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


OOO_STATE_SCHEMA = T.StructType([
    T.StructField("started", T.BooleanType(), False),
    T.StructField("boundary_count", T.IntegerType(), False),
    T.StructField("next_idx", T.IntegerType(), False),
    T.StructField("buf_idx", T.ArrayType(T.IntegerType()), True),
    T.StructField("buf_boundary", T.ArrayType(T.BooleanType()), True),
    # processing time (ms) when the current non-empty buffer streak
    # began; null while the buffer is empty
    T.StructField("buffered_since_ms", T.LongType(), True),
])


def _make_ooo_update(max_buffer: int, flush_after_ms: int):
    """Build the applyInPandasWithState update fn for
    stateful_sessionize_ooo (module-level so the deadline arithmetic is
    unit-testable against a fake GroupState with a controlled clock)."""

    def update(key, pdf_iter, state):
        (conv_id,) = key
        now = state.getCurrentProcessingTimeMs()
        timed_out = bool(state.hasTimedOut)
        if state.exists:
            started, b, nxt, bidx, bb, since = state.get
            buf = dict(zip(bidx or [], bb or []))
        else:
            started, b, nxt, buf, since = False, 0, 0, {}, None
        pre_batch = set(buf)  # indices carried over from prior batches
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            batch = pd.concat(chunks)
            for i, is_b in zip(batch["turn_idx"], batch["is_boundary"]):
                if int(i) >= nxt:           # drop late duplicates
                    buf[int(i)] = bool(is_b)
        out_idx, out_seq = [], []

        def emit(i, is_b):
            nonlocal started, b
            if started and is_b:
                b += 1
            out_idx.append(i)
            out_seq.append(b + 1)
            started = True

        while nxt in buf:
            emit(nxt, buf.pop(nxt))
            nxt += 1
        # streak accounting: `since` times the oldest STILL-buffered
        # carried-over turn.  If the drain resolved every pre-batch
        # occupant, whatever remains arrived THIS batch and starts a
        # fresh streak — keeping the stale `since` would force-flush
        # turns that waited 0 ms and advance the watermark past (and so
        # permanently drop) their missing predecessors
        if not (pre_batch & buf.keys()):
            since = None
        # the delay bound is checked inline too: a group that receives
        # data every micro-batch never times out, but its streak still
        # ages past the deadline
        overdue = since is not None and now - since >= flush_after_ms
        if len(buf) > max_buffer or ((timed_out or overdue) and buf):
            for i in sorted(buf):
                emit(i, buf.pop(i))
            nxt = out_idx[-1] + 1
        if out_idx:
            yield pd.DataFrame({
                "conv_id": conv_id,
                "turn_idx": pd.Series(out_idx, dtype="int32"),
                "visit_seq": pd.Series(out_seq, dtype="int32"),
                "visit_id": [f"visit_{s:03d}" for s in out_seq],
            })
        pending = sorted(buf)
        since = (now if since is None else since) if pending else None
        state.update((started, b, nxt, pending,
                      [buf[i] for i in pending], since))
        if pending:
            # wake this group to force-flush even if no further data
            # ever arrives for it; re-arm with the REMAINING time so
            # repeated data invocations (which clear the timeout)
            # cannot push the deadline back
            state.setTimeoutDuration(max(1, flush_after_ms - (now - since)))

    return update


def stateful_sessionize_ooo(extracted_stream: DataFrame,
                            max_buffer: int = 1024,
                            flush_after_ms: int = 60_000) -> DataFrame:
    """Out-of-order-tolerant cross-batch visit assignment: like
    stateful_sessionize, but turns that arrive BEFORE their
    predecessors are held in per-conversation GroupState and emitted
    only once the turn_idx sequence is contiguous, so visit numbering
    is bit-identical to the batch W2 window for ANY cross-batch arrival
    order (the contiguity contract: per-conversation turn_idx runs
    0,1,2,... — a transcript's turn index).

    Bounded state AND bounded delay: the reorder buffer force-flushes
    in sorted turn_idx order when either
    * it exceeds ``max_buffer`` turns (memory bound), or
    * the oldest continuously-buffered streak ages past
      ``flush_after_ms`` of processing time (delay bound — a genuinely
      LOST turn with few successors would otherwise withhold the rest
      of its conversation forever, since no size trigger ever fires).
      The streak start is persisted in state and the GroupState timeout
      is re-armed with the REMAINING time each invocation, so sustained
      arrivals for the group cannot postpone the flush indefinitely
      (GroupState clears its timeout on every data invocation); the
      deadline is also checked inline on data batches, covering groups
      that receive data every batch and therefore never time out.
    A force-flush degrades ordering for that conversation only; after
    it, the emit watermark jumps to the highest flushed turn_idx, and
    late arrivals below the watermark are dropped (append-mode
    exactly-once).  Corollary: a corrupt out-of-range turn_idx in a
    flushed set raises the watermark past legitimate turns — guard
    turn_idx sanity upstream (the P1 ingest-validation stage), as the
    batch pipeline does."""

    return (
        extracted_stream
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_ooo_update(max_buffer, flush_after_ms),
            outputStructType=SESSIONIZE_OUTPUT_SCHEMA,
            stateStructType=OOO_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="ProcessingTimeTimeout",
        )
    )
