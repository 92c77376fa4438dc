"""Streaming ingest dedup: a Structured Streaming wrapper around the
incremental dedup path (``corpus_incremental.py``).

Each micro-batch of new documents is deduped against everything kept
so far — the historical corpus index PLUS every earlier micro-batch —
and the survivors' keys+signatures are appended to the index before
the next batch runs.  This is the continuous-ingest shape of a
training-data pipeline: the expensive global DAG (``corpus_job.py``)
builds the index once over the backlog; from then on arrivals stream
through ``foreachBatch`` at batch-sized cost.

Exactly-once: ``foreachBatch`` sinks are at-least-once on failure
recovery — a replayed epoch would double-append its signatures to the
index and its survivors to the output.  The sink therefore records
each applied epoch in an ``_applied_epochs`` marker table and SKIPS
epochs already present (idempotent re-apply), which upgrades the sink
to effectively-once.  Kept-document appends ride the same guard.
The marker row and the empty bootstrap index are JVM-built
(``sources.io.literal_rows``): no Python worker round trip.

State is all on storage (index tables), not in executor memory —
restarting the stream loses nothing and needs no state-store
migration; the stream itself is stateless per Spark's accounting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import corpus_incremental as ci
from ..sources.io import literal_rows

DOCS_SCHEMA = "doc_id long, text string"


def _read_index(spark: SparkSession, index_dir: str, hash_fn: str):
    """(corpus_keys, corpus_sigs) from the on-disk index; empty frames
    (bootstrap: first batch dedups only within itself) when absent."""
    path = os.path.join(index_dir, "index.parquet")
    if os.path.exists(path):
        idx = spark.read.parquet(path)
        return (
            idx.select("content_key", "keep_doc_id"),
            idx.select(F.col("keep_doc_id").alias("doc_id"), "signature"),
        )
    sig = "array<string>" if hash_fn == "md5" else "array<bigint>"
    return (
        literal_rows(spark, (("content_key", "string"), ("keep_doc_id", "long")), []),
        literal_rows(spark, (("doc_id", "long"), ("signature", sig)), []),
    )


def _applied_epochs(spark: SparkSession, index_dir: str) -> set[int]:
    path = os.path.join(index_dir, "_applied_epochs.parquet")
    if not os.path.exists(path):
        return set()
    return {r["epoch_id"] for r in spark.read.parquet(path).collect()}


def make_dedup_sink(index_dir: str, output_dir: str, *,
                    num_hashes: int = 32, bands: int = 8,
                    shingle_n: int = 3, jaccard_threshold: float = 0.7,
                    hash_fn: str = "xxhash64", progress=lambda m: None):
    """foreachBatch sink: dedup the micro-batch against the index,
    append survivors + decisions to `output_dir`, append survivor
    keys+signatures to the index.  Standalone so tests (and batch
    backfills) can invoke it directly with (df, epoch_id)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id in _applied_epochs(spark, index_dir):
            progress(f"[epoch {epoch_id}] already applied, skipping (replay)")
            return
        keys, sigs = _read_index(spark, index_dir, hash_fn)
        res = ci.incremental_dedup(
            batch_df, keys, sigs, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, jaccard_threshold=jaccard_threshold,
            hash_fn=hash_fn,
        )
        res.decisions.withColumn("epoch_id", F.lit(epoch_id)) \
            .write.mode("append").parquet(os.path.join(output_dir, "decisions.parquet"))
        res.survivors.write.mode("append") \
            .parquet(os.path.join(output_dir, "kept.parquet"))
        appended = (
            res.new_sigs.withColumnRenamed("doc_id", "keep_doc_id")
            .join(res.new_keys, "keep_doc_id")
            .select("content_key", "keep_doc_id", "text_len", "signature")
        )
        appended.write.mode("append") \
            .parquet(os.path.join(index_dir, "index.parquet"))
        # marker LAST.  A crash between the appends above and this
        # marker double-appends on replay; that is made harmless for
        # future DECISIONS by the min-agg over index hits
        # (corpus_incremental.py corpus_hit) and made visible/
        # repairable for the output tables by the epoch_id column on
        # decisions (drop rows of unmarked epochs on restart) — the
        # standard foreachBatch compensation contract.
        literal_rows(spark, (("epoch_id", "long"),), [(epoch_id,)]) \
            .write.mode("append") \
            .parquet(os.path.join(index_dir, "_applied_epochs.parquet"))
        progress(f"[epoch {epoch_id}] applied")

    return sink


def run_dedup_stream(spark: SparkSession, input_dir: str, index_dir: str,
                     output_dir: str, checkpoint_dir: str, *,
                     max_files_per_trigger: int = 8, **dedup_kw):
    """availableNow streaming dedup over a documents parquet directory."""
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        stream.writeStream
        .foreachBatch(make_dedup_sink(index_dir, output_dir, **dedup_kw))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
