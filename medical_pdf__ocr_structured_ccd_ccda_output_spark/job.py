"""spark-submit entrypoint with shard-manifest resumability.

  spark-submit --py-files mpx.zip -m ... job.py \
      --input /lake/transcripts --output /lake/out \
      --run-id run42 --shards 64 [--skew-aware] [--resume]

Each shard (hash bucket of conv_id) runs the full pipeline and commits
its outputs before the manifest marks it done; a restart with --resume
recomputes only pending shards.  Packaging: `make zip` equivalent —
  cd /root/repo && zip -r mpx.zip medical_pdf__ocr_structured_ccd_ccda_output_spark
"""

from __future__ import annotations

import argparse
import os
import time

from pyspark.sql import functions as F

from .pipeline import run_pipeline
from .session import get_spark, tune_scan_splits
from .sources import io as tio
from .sources.manifest import Manifest


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

    spark = get_spark("ccda_extraction_job")
    # local filesystem inputs: size scan splits to the corpus so the
    # Arrow extractor (which runs in the scan stage) feeds every core
    # (no-op for non-local URIs / inputs big enough for 128MB splits)
    tune_scan_splits(spark, args.input)
    transcripts = tio.read_table(spark, args.input, "transcripts")
    if args.manifest_dir is None:
        if tio.is_iceberg_location(args.output):
            p.error("--output is an Iceberg catalog prefix; pass an "
                    "explicit filesystem --manifest-dir for the shard "
                    "manifest")
        args.manifest_dir = os.path.join(args.output, "_manifest")
    manifest = Manifest(spark, args.manifest_dir, args.run_id)

    shards = (
        manifest.pending(transcripts, args.shards)
        if args.resume else list(range(args.shards))
    )
    t0 = time.time()
    total = 0
    for shard in shards:
        part = (
            manifest.filter_shard(transcripts, shard, args.shards)
            if args.shards > 1 else transcripts
        )
        res = run_pipeline(
            spark, part, run_id=args.run_id,
            skew_aware=args.skew_aware,
            include_raw_text=not args.no_raw_text,
            with_validation=not args.no_validation,
            with_narrative=args.narrative,
            max_text_chars=args.max_text_chars or None,
        )
        # every sink below derives from the extract+sessionize plan;
        # without a persist, each of the ~15 write actions re-executes
        # the scan, the Arrow cleaning UDF, and the conv_id shuffle
        # from scratch (round-3 review fix).  MEMORY_AND_DISK: a shard
        # that outgrows executor memory spills instead of recomputing.
        from pyspark import StorageLevel

        res.extracted_turns.persist(StorageLevel.MEMORY_AND_DISK)
        # unpersist on every way out: a failed write must not leave the
        # shard's cache pinned while the next shard runs
        mode = "overwrite"
        suffix = f"_shard{shard}" if args.shards > 1 else ""
        try:
            tio.write_table(res.extracted_turns, args.output, f"extracted_turns{suffix}", mode)
            tio.write_table(res.visit_spans, args.output, f"visit_spans{suffix}", mode)
            tio.write_table(res.documents, args.output, f"documents{suffix}", mode)
            if res.medications is not None:
                tio.write_table(res.medications, args.output, f"medications{suffix}", mode)
                tio.write_table(res.problems, args.output, f"problems{suffix}", mode)
                tio.write_table(res.lab_results, args.output, f"lab_results{suffix}", mode)
                tio.write_table(res.vitals, args.output, f"vitals{suffix}", mode)
                tio.write_table(res.allergies, args.output, f"allergies{suffix}", mode)
                tio.write_table(res.plan_items, args.output, f"plan_items{suffix}", mode)
                tio.write_table(res.dedup_log, args.output, f"dedup_log{suffix}", mode)
            if res.quarantine is not None:
                tio.write_table(res.quarantine, args.output, f"quarantine{suffix}", mode)
            if res.data_quality is not None:
                tio.write_table(res.data_quality, args.output, f"data_quality{suffix}", mode)
            if res.ccd_xml is not None:
                tio.write_table(res.ccd_xml, args.output, f"ccd_xml{suffix}", mode)
            if res.narrative is not None:
                tio.write_table(res.narrative, args.output, f"narrative{suffix}", mode)
            tio.write_table(res.metrics, args.output, f"metrics{suffix}", mode)
            for stage, ldf in res.lineage.items():
                tio.write_table(ldf, args.output, f"lineage_{stage}{suffix}", mode)
            # read back through the same IO abstraction the writes used —
            # a hardcoded parquet path crashes under an Iceberg output
            n = tio.read_table(spark, args.output, f"extracted_turns{suffix}").count()
            total += n
            manifest.mark_done(shard, n, n_shards=args.shards)
        finally:
            res.extracted_turns.unpersist()
        print(f"[shard {shard}] {n} turns committed")

    dt = time.time() - t0
    print(f"run {args.run_id}: {total} turns in {dt:.1f}s "
          f"({total / dt if dt else 0:.0f} turns/sec)")


if __name__ == "__main__":
    main()
