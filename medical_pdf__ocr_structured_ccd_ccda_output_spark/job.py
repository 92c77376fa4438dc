"""spark-submit entrypoint with shard-manifest resumability.

  spark-submit --py-files mpx.zip -m ... job.py \
      --input /lake/transcripts --output /lake/out \
      --run-id run42 --shards 64 [--skew-aware] [--resume]

Each shard (hash bucket of conv_id) runs the full pipeline and commits
its outputs before the manifest marks it done; a restart with --resume
recomputes only pending shards.

Per shard, the driver and the cluster work at the same time:
  1. prepare_turns builds the turn plan; the quality aggregate and the
     turns are persisted, and the extracted_turns write starts on a pool
     thread, filling both caches.
  2. Meanwhile the main thread runs build_outputs (every other sink's
     plan, several seconds of driver time cold) and persists the fused
     dedup output.
  3. Once extracted_turns is written: dedup_log alone, then the other
     sinks concurrently, then the manifest row, with the row count the
     extracted_turns write observed (sources.io.write_counted).
dedup_log still waits for the turn cache and runs alone: it is the
first reader of the dedup cache, and writes that race to fill one
unfilled cache each run a Spark job of their own.

Packaging: `make zip` equivalent —
  cd /root/repo && zip -r mpx.zip medical_pdf__ocr_structured_ccd_ccda_output_spark
"""

from __future__ import annotations

import argparse
import time
from concurrent.futures import Future, ThreadPoolExecutor, wait

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from .pipeline import build_outputs, prepare_turns
from .session import get_spark, tune_scan_splits
from .sources import io as tio
from .sources.manifest import Manifest, manifest_location


# sink writes in flight at once; a small fixed pool bounds the driver
# memory the concurrent jobs hold
SINK_WRITERS = 4


def submit(pool: ThreadPoolExecutor, spark: SparkSession, fn, *args) -> Future:
    """fn(*args) on a pool thread, with a copy of the calling thread's
    Spark local properties (job group, description, scheduler pool)
    taken now."""
    return pool.submit(inheritable_thread_target(spark)(fn), *args)


def raise_first_failure(futures: list[Future]) -> None:
    """Wait for every future, then raise the first failure in list
    order."""
    wait(futures)
    for f in futures:
        if f.exception() is not None:
            raise f.exception()


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="transcripts table dir/prefix")
    p.add_argument("--output", required=True, help="output dir/prefix")
    p.add_argument("--run-id", default="run_0")
    p.add_argument("--shards", type=int, default=1)
    p.add_argument("--skew-aware", action="store_true")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--manifest-dir", default=None,
                   help="shard-manifest directory (default: "
                        "<output>/_manifest; REQUIRED when --output is "
                        "an Iceberg catalog prefix)")
    p.add_argument("--no-raw-text", action="store_true",
                   help="skip combined-text sinks (the only per-conv "
                        "collect at pathological conversation sizes)")
    p.add_argument("--no-validation", action="store_true",
                   help="skip the P1 ingest validation / quarantine branch")
    p.add_argument("--narrative", action="store_true",
                   help="also write the S9 human-readable narrative "
                        "document sink (one text document per "
                        "conversation)")
    p.add_argument("--max-text-chars", type=int, default=10_000_000,
                   help="bound per-conversation/visit combined-text "
                        "aggregation state (chars); 0 disables the cap "
                        "(reference semantics, unbounded at pathological "
                        "conversation sizes)")
    args = p.parse_args(argv)
    try:
        manifest_dir = manifest_location(args.output, args.manifest_dir)
    except ValueError as e:
        p.error(str(e))

    spark = get_spark("ccda_extraction_job")
    # local filesystem inputs: size scan splits to the corpus so the
    # Arrow extractor (which runs in the scan stage) feeds every core
    # (no-op for non-local URIs / inputs big enough for 128MB splits)
    tune_scan_splits(spark, args.input)
    transcripts = tio.read_table(spark, args.input, "transcripts")
    manifest = Manifest(spark, manifest_dir, args.run_id)

    shards = (
        manifest.pending(transcripts, args.shards)
        if args.resume else list(range(args.shards))
    )
    t0 = time.time()
    total = 0
    with ThreadPoolExecutor(SINK_WRITERS, thread_name_prefix="sink") as pool:
        for shard in shards:
            part = (
                manifest.filter_shard(transcripts, shard, args.shards)
                if args.shards > 1 else transcripts
            )
            n = run_shard(spark, pool, args, manifest, shard, part)
            total += n
            print(f"[shard {shard}] {n} turns committed")

    dt = time.time() - t0
    print(f"run {args.run_id}: {total} turns in {dt:.1f}s "
          f"({total / dt if dt else 0:.0f} turns/sec)")


def run_shard(spark: SparkSession, pool: ThreadPoolExecutor,
              args: argparse.Namespace, manifest: Manifest, shard: int,
              part: DataFrame) -> int:
    """Build, write and commit one shard; returns its committed turn
    count.  Every sink derives from the persisted frames (quality
    aggregate, extract+sessionize plan, dedup output); without a persist
    each of the ~15 write actions re-executes the scan, the Arrow
    extraction UDF, the conv_id shuffle and the grouped dedup.  They are
    persisted in dependency order, so each cached plan reads the caches
    before it.  MEMORY_AND_DISK: a shard that outgrows executor memory
    spills instead of recomputing.  Unpersisted on every way out, but
    only once no write is in flight: a failed build or write must not
    leave the shard's caches pinned while the next shard runs."""
    mode = "overwrite"
    suffix = f"_shard{shard}" if args.shards > 1 else ""
    stage = prepare_turns(part, skew_aware=args.skew_aware,
                          with_validation=not args.no_validation)
    persisted = []

    def persist(frames: list[DataFrame]) -> None:
        for df in frames:
            df.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(df)

    try:
        persist(stage.to_persist)
        # extracted_turns needs only the turn plan: it runs (and fills
        # the quality and turn caches) while this thread builds the
        # other sinks' plans, which takes seconds and runs no Spark job.
        # Its row count is the shard's committed turn count.
        first = submit(pool, spark, tio.write_counted, stage.turns,
                       args.output, f"extracted_turns{suffix}")
        try:
            res = build_outputs(
                spark, stage, run_id=args.run_id,
                include_raw_text=not args.no_raw_text,
                with_narrative=args.narrative,
                max_text_chars=args.max_text_chars or None,
            )
            # to_persist starts with the stage's frames, persisted above
            persist(res.to_persist[len(persisted):])
        finally:
            # a failed build still waits for the write, which reads the
            # caches unpersisted below; the write started first, so its
            # failure is the one raised
            raise_first_failure([first])
        # dedup_log alone: it fills the dedup cache, so no two
        # concurrent writes race to fill it (each race costs a Spark
        # job of its own)
        tio.write_table(res.dedup_log, args.output, f"dedup_log{suffix}", mode)
        # the rest concurrently, SINK_WRITERS at a time in list order:
        # each write is mostly fixed Spark job latency, so one at a time
        # leaves the cores idle.  The longest sink goes first, so it does
        # not start last and run alone.  The manifest commits only after
        # every write succeeded.
        sinks = [
            ("ccd_xml", res.ccd_xml), ("narrative", res.narrative),
            ("visit_spans", res.visit_spans), ("documents", res.documents),
            ("medications", res.medications), ("problems", res.problems),
            ("lab_results", res.lab_results), ("vitals", res.vitals),
            ("allergies", res.allergies), ("plan_items", res.plan_items),
            ("quarantine", res.quarantine), ("data_quality", res.data_quality),
            ("metrics", res.metrics),
            *((f"lineage_{step}", ldf) for step, ldf in res.lineage.items()),
        ]
        raise_first_failure([
            submit(pool, spark, tio.write_table, df, args.output,
                   f"{name}{suffix}", mode)
            for name, df in sinks if df is not None
        ])
        n = first.result()
        manifest.mark_done(shard, n, n_shards=args.shards)
    finally:
        for df in persisted:
            df.unpersist()
    return n


if __name__ == "__main__":
    main()
