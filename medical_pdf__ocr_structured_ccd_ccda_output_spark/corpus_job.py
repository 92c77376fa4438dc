"""spark-submit entrypoint for the corpus dedup pipeline, with
stage-manifest resumability.

  spark-submit --py-files mpx.zip -m ... corpus_job.py \
      --input /lake/documents --output /lake/dedup \
      --run-id dedup42 --shards 64 [--resume]

Unlike the extraction job (``job.py``) — where every conv_id shard is
an independent full pipeline — global dedup is a DAG whose late stages
(pair join, transitive closure) need ALL early-stage output.  The unit
of resumability is therefore a *stage*:

  signatures/shard=i   per content_key-hash shard: content digests,
                       exact-dedup map, ONE minhash signature per
                       distinct content (duplicate text is never
                       shingled twice)
  pairs                global LSH banded candidates + est-Jaccard
  clusters             transitive closure + survivor choice
  survivors            per-doc decision lineage + kept documents +
                       per-stage metrics

Each stage commits its output tables before the manifest marks it
done; ``--resume`` skips completed stages and reads their materialized
outputs back.  Sharding stage 1 by content_key (not doc_id) makes the
exact-dedup groupBy complete *within* a shard — duplicate groups can't
straddle shards — at the cost of re-scanning the input per shard
(the same trade the extraction job makes for conv_id shards; a
one-pass bucketed pre-write amortizes it when the input is re-run
often).

Reference analog: dedup as a pipeline stage, ``main.py:170-174``;
merge semantics, ``src/services/deduplication_service.py:101-480``.
"""

from __future__ import annotations

import argparse
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import corpus_pipeline as cp
from .operators import corpus, graph
from .session import get_spark, tune_scan_splits
from .sources import io as tio
from .sources.manifest import StageManifest


def _shard_filter(documents: DataFrame, shard: int, n_shards: int) -> DataFrame:
    key = F.md5(corpus.norm_text(F.col("text")))
    return documents.filter(
        F.pmod(F.xxhash64(key), F.lit(n_shards)).cast("int") == shard
    )


def _read_shards(spark: SparkSession, output: str, name: str,
                 shards: int) -> DataFrame:
    """All shards of a stage table as ONE scan.

    Parquet layout: a single multi-path ``spark.read.parquet`` — plan
    depth is constant in ``shards`` (a linear ``unionByName`` chain
    grows the analyzed plan with every shard; at hundreds of shards
    that is measurable Catalyst analysis time per action).  All shards
    are written by the same stage code, so their schemas are
    identical.  Iceberg layout keeps the union (shards are distinct
    catalog tables there); high-shard Iceberg runs should write one
    partitioned table instead."""
    if not tio.is_iceberg_location(output):
        return spark.read.parquet(*[
            os.path.join(output, f"{name}_shard{i}.parquet")
            for i in range(shards)
        ])
    parts = [
        tio.read_table(spark, output, f"{name}_shard{i}")
        for i in range(shards)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def run_corpus_job(spark: SparkSession, documents: DataFrame, output: str,
                   *, run_id: str, shards: int = 1, resume: bool = False,
                   manifest_dir: str | None = None, num_hashes: int = 32,
                   bands: int = 8, shingle_n: int = 3,
                   jaccard_threshold: float = 0.7,
                   hash_fn: str = "xxhash64",
                   progress=print) -> dict[str, int]:
    """Run (or resume) the staged dedup DAG; returns per-stage row
    counts.  Separated from main() so tests can drive kill/resume."""
    if manifest_dir is None:
        if tio.is_iceberg_location(output):
            raise ValueError(
                "--output is an Iceberg catalog prefix; pass an explicit "
                "filesystem --manifest-dir for the stage manifest"
            )
        manifest_dir = os.path.join(output, "_manifest")
    manifest = StageManifest(spark, manifest_dir, run_id)
    manifest.record_params({
        "num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n,
        "jaccard_threshold": jaccard_threshold, "hash_fn": hash_fn,
        "shards": shards,
    })
    done = manifest.completed() if resume else set()
    counts: dict[str, int] = {}
    t0 = time.time()

    # ---- stage 1 (sharded): content keys, exact map, signatures ----
    for shard in range(shards):
        stage = f"signatures/shard={shard}"
        if stage in done:
            progress(f"[{stage}] already done, skipping")
            continue
        part = (
            _shard_filter(documents, shard, shards)
            if shards > 1 else documents
        )
        # every consumer DOWNSTREAM of doc_keys (exact aggregation, rep
        # filter join, stage-4 lineage) reads the materialized narrow
        # table back instead of re-executing the digest expression
        # (measured on the composed DAG as duplicate ~150
        # executor-second stages before the same fix landed in
        # corpus_pipeline).  With shards > 1 the digest still runs in
        # the _shard_filter predicate of `part` itself (here and in the
        # reps scan below) — a narrow recompute kept deliberately: the
        # alternative, semi-joining full `documents` against the
        # materialized doc_keys, replaces a cheap scan+filter with a
        # full shuffle of the documents table per shard.
        keyed = cp.content_keyed(part)
        tio.write_table(
            keyed.select("doc_id", "content_key",
                         F.length("text").alias("text_len")),
            output, f"doc_keys_shard{shard}", "overwrite",
        )
        keys = tio.read_table(spark, output, f"doc_keys_shard{shard}")
        # lazy ckpt: exact_map feeds both the rep filter and the final
        # exact_sigs join inside one write action; the block-manager
        # shares the single materialization between them
        exact_map = cp.exact_map_of(keys, len_col="text_len") \
            .localCheckpoint(eager=False)
        reps = part.join(
            exact_map.select(F.col("keep_doc_id").alias("doc_id")), "doc_id"
        )
        sigs = corpus.minhash_signatures(
            reps.select("doc_id", "text"), num_hashes, shingle_n, hash_fn
        )
        exact_sigs = exact_map.join(
            sigs.select(F.col("doc_id").alias("keep_doc_id"), "signature"),
            "keep_doc_id",
        )
        tio.write_table(exact_sigs, output, f"exact_sigs_shard{shard}",
                        "overwrite")
        n = tio.read_table(spark, output, f"exact_sigs_shard{shard}").count()
        counts[stage] = n
        manifest.mark_done(stage, n)
        progress(f"[{stage}] {n} distinct contents committed")

    def _skip(stage: str) -> bool:
        if stage in done:
            progress(f"[{stage}] already done, skipping")
            return True
        return False

    # ---- stage 2 (global): LSH banded pairs over survivor signatures ----
    exact_sigs = _read_shards(spark, output, "exact_sigs", shards)
    if not _skip("pairs"):
        sigs = exact_sigs.select(
            F.col("keep_doc_id").alias("doc_id"), "signature"
        )
        # cache="none": sigs is a materialized parquet stage — the
        # three LSH consumers rescan fault-recoverable storage instead
        # of duplicating it into non-recomputable localCheckpoint
        # blocks (an executor loss then recomputes, not fails)
        pairs = corpus.lsh_pairs_from_signatures(
            sigs, num_hashes, bands, jaccard_threshold, hash_fn,
            cache="none",
        )
        tio.write_table(pairs, output, "near_dup_pairs", "overwrite")
        n = tio.read_table(spark, output, "near_dup_pairs").count()
        counts["pairs"] = n
        manifest.mark_done("pairs", n)
        progress(f"[pairs] {n} candidate pairs committed")

    # ---- stage 3 (global): transitive closure + survivor choice ----
    if not _skip("clusters"):
        pairs = tio.read_table(spark, output, "near_dup_pairs")
        verts = exact_sigs.select(
            F.col("keep_doc_id").alias("doc_id"), "text_len"
        )
        # pairs_cache="none": the pair list is the stage-2 parquet
        # table — already materialized and recomputable, no reason to
        # copy it into the block store with truncated lineage
        clusters = graph.near_dup_clusters(
            verts, pairs, len_col="text_len", pairs_cache="none"
        )
        tio.write_table(clusters, output, "near_dup_clusters", "overwrite")
        n = tio.read_table(spark, output, "near_dup_clusters").count()
        counts["clusters"] = n
        manifest.mark_done("clusters", n)
        progress(f"[clusters] {n} clustered docs committed")

    # ---- stage 4 (global): per-doc lineage + kept documents ----
    if not _skip("survivors"):
        keyed = _read_shards(spark, output, "doc_keys", shards)
        clusters = tio.read_table(spark, output, "near_dup_clusters")
        decisions = cp.assemble_decisions(
            keyed, exact_sigs.select("content_key", "keep_doc_id"), clusters
        )
        tio.write_table(decisions, output, "dedup_decisions", "overwrite")
        kept = documents.join(
            tio.read_table(spark, output, "dedup_decisions")
            .filter("keep").select("doc_id"),
            "doc_id", "left_semi",
        )
        tio.write_table(kept, output, "kept_documents", "overwrite")
        n_dec = tio.read_table(spark, output, "dedup_decisions").count()
        n_kept = tio.read_table(spark, output, "kept_documents").count()
        metrics = spark.createDataFrame(
            [("decisions", n_dec), ("kept_documents", n_kept)]
            + [(k, v) for k, v in sorted(counts.items())],
            "stage string, rows_out long",
        )
        tio.write_table(metrics, output, "corpus_metrics", "overwrite")
        counts["survivors"] = n_kept
        manifest.mark_done("survivors", n_kept)
        progress(f"[survivors] {n_kept} documents kept "
                 f"({n_dec} decisions) committed")

    dt = time.time() - t0
    progress(f"run {run_id}: stages {sorted(counts)} in {dt:.1f}s")
    return counts


def run_incremental_job(spark: SparkSession, batch: DataFrame, output: str,
                        *, base_run_id: str, inc_run_id: str,
                        manifest_dir: str | None = None,
                        broadcast_batch: bool = True,
                        progress=print) -> dict[str, int]:
    """Dedup a NEW batch against the index a completed
    ``run_corpus_job`` materialized at `output`, without re-touching
    the corpus (see ``corpus_incremental.py`` for the join shapes).

    Reads the dedup parameters (hash family, num_hashes/bands/
    shingle_n, threshold) from the base run's stage manifest — a batch
    signed with a different family than the index is meaningless, so
    they are not CLI-settable here.  Writes
    ``inc_decisions_{inc_run_id}`` / ``inc_kept_{inc_run_id}`` and
    APPENDS the kept docs' keys+signatures to ``exact_sigs_inc`` so
    the next incremental run dedups against them too; the manifest
    stage ``incremental/{inc_run_id}`` (recorded under the base
    run_id) makes re-running the same batch id refuse instead of
    double-appending."""
    from . import corpus_incremental as ci

    if manifest_dir is None:
        if tio.is_iceberg_location(output):
            raise ValueError(
                "--output is an Iceberg catalog prefix; pass an explicit "
                "filesystem --manifest-dir for the stage manifest"
            )
        manifest_dir = os.path.join(output, "_manifest")
    manifest = StageManifest(spark, manifest_dir, base_run_id)
    params = manifest.params()
    done = manifest.completed()
    if "survivors" not in done:
        raise ValueError(
            f"base run {base_run_id!r} has not completed (stages done: "
            f"{sorted(done)}); finish it before running incrementals"
        )
    stage = f"incremental/{inc_run_id}"
    if stage in done:
        raise ValueError(
            f"incremental batch {inc_run_id!r} was already applied to "
            f"run {base_run_id!r}; re-applying would double-append its "
            f"signatures to the index. Use a new --inc-run-id."
        )

    shards = int(params["shards"])
    index = _read_shards(spark, output, "exact_sigs", shards)
    from pyspark.errors import AnalysisException

    try:
        index = index.unionByName(
            tio.read_table(spark, output, "exact_sigs_inc")
        )
    except AnalysisException:
        pass  # first incremental run: no appended table yet

    # write-once corpus band-table artifact: (doc_id, band, bucket) per
    # index signature.  The first admit derives it from the signature
    # arrays and persists it; later admits scan the narrow artifact
    # instead of re-hashing every corpus signature into buckets (the
    # dominant per-admit cost measured on the x1280 index by
    # `git show 19ed140:tools/incremental_bench.py`).  Appends below
    # keep it in step with exact_sigs_inc; a row-count check (one
    # bounded action per admit) detects staleness — from a crash between
    # the two appends or an older-code artifact — and rebuilds.
    n_bands = int(params["bands"])
    expected_bands = index.count() * n_bands
    cbands = None
    try:
        cbands = tio.read_table(spark, output, "corpus_bands")
        if cbands.count() != expected_bands:
            progress("[incremental] corpus_bands artifact stale — rebuilding")
            cbands = None
    except AnalysisException:
        pass
    if cbands is None:
        derived = corpus.banded_signatures(
            index.select(F.col("keep_doc_id").alias("doc_id"), "signature"),
            int(params["num_hashes"]), n_bands, params["hash_fn"],
        ).select("doc_id", "band", "bucket")
        tio.write_table(derived, output, "corpus_bands", "overwrite")
        cbands = tio.read_table(spark, output, "corpus_bands")

    res = ci.incremental_dedup(
        batch,
        corpus_keys=index.select("content_key", "keep_doc_id"),
        corpus_sigs=index.select(
            F.col("keep_doc_id").alias("doc_id"), "signature"
        ),
        num_hashes=int(params["num_hashes"]),
        bands=n_bands,
        shingle_n=int(params["shingle_n"]),
        jaccard_threshold=float(params["jaccard_threshold"]),
        hash_fn=params["hash_fn"],
        broadcast_batch=broadcast_batch,
        corpus_bands=cbands,
    )
    tio.write_table(res.decisions, output, f"inc_decisions_{inc_run_id}",
                    "overwrite")
    decisions = tio.read_table(spark, output, f"inc_decisions_{inc_run_id}")
    tio.write_table(res.survivors, output, f"inc_kept_{inc_run_id}",
                    "overwrite")
    # index append: same schema as exact_sigs (dup_count = this batch's
    # exact fan-in so index stats stay meaningful)
    fan_in = decisions.filter(
        F.col("reason") == ci.REASON_EXACT_BATCH
    ).groupBy(F.col("dup_of").alias("keep_doc_id")).count()
    appended = (
        res.new_sigs.withColumnRenamed("doc_id", "keep_doc_id")
        .join(res.new_keys, "keep_doc_id")
        .join(fan_in, "keep_doc_id", "left")
        .select(
            "keep_doc_id", "text_len",
            (F.coalesce("count", F.lit(0)) + 1).alias("dup_count"),
            "content_key", "signature",
        )
    )
    # materialize the (batch-survivor-sized) append once: it feeds two
    # sinks below, each of which would otherwise re-execute the admit
    # DAG's tail (minhash over survivors + a corpus key-map probe)
    appended = appended.localCheckpoint(eager=True)
    tio.write_table(appended, output, "exact_sigs_inc", "append")
    # keep the band artifact in step with the appended signatures (the
    # staleness check above self-heals if we crash between these two)
    new_bands = corpus.banded_signatures(
        appended.select(F.col("keep_doc_id").alias("doc_id"), "signature"),
        int(params["num_hashes"]), n_bands, params["hash_fn"],
    ).select("doc_id", "band", "bucket")
    tio.write_table(new_bands, output, "corpus_bands", "append")
    # one reporting action: kept + total from a single pass over the
    # materialized decisions table (keep=True rows ARE the inc_kept
    # table by construction — survivors is a semi-join on them)
    rep = decisions.agg(
        F.count("*").alias("n_batch"),
        F.count(F.when(F.col("keep"), True)).alias("n_kept"),
    ).first()
    n_kept, n_batch = rep["n_kept"], rep["n_batch"]
    manifest.mark_done(stage, n_kept)
    progress(f"[{stage}] {n_kept} of {n_batch} batch docs kept, "
             f"keys+signatures appended to index")
    return {stage: n_kept}


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents table dir/prefix")
    p.add_argument("--output", required=True, help="output dir/prefix")
    p.add_argument("--run-id", default="dedup_0")
    p.add_argument("--shards", type=int, default=1)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--manifest-dir", default=None,
                   help="stage-manifest directory (default: "
                        "<output>/_manifest; REQUIRED when --output is "
                        "an Iceberg catalog prefix)")
    p.add_argument("--num-hashes", type=int, default=32)
    p.add_argument("--bands", type=int, default=8)
    p.add_argument("--shingle-n", type=int, default=3)
    p.add_argument("--jaccard-threshold", type=float, default=0.7)
    p.add_argument("--hash-fn", choices=["xxhash64", "md5"],
                   default="xxhash64")
    p.add_argument("--incremental", action="store_true",
                   help="dedup --input (a NEW batch) against the index "
                        "at --output built by a completed base run; "
                        "dedup params come from the base run's manifest")
    p.add_argument("--inc-run-id", default=None,
                   help="unique id for this incremental batch "
                        "(required with --incremental)")
    p.add_argument("--no-broadcast-batch", action="store_true",
                   help="incremental: don't broadcast-hint the batch "
                        "side of the corpus probes")
    args = p.parse_args(argv)

    spark = get_spark("corpus_dedup_job")
    # local filesystem inputs: size scan splits to the corpus so the
    # compute-heavy map side (md5/norm digests, shingling) feeds every
    # core — the default 128MB splits read a small compressed corpus as
    # a handful of partitions (no-op for non-local URIs / big inputs)
    tune_scan_splits(spark, args.input)
    documents = tio.read_table(spark, args.input, "documents")
    if args.incremental:
        if not args.inc_run_id:
            raise SystemExit("--incremental requires --inc-run-id")
        run_incremental_job(
            spark, documents, args.output, base_run_id=args.run_id,
            inc_run_id=args.inc_run_id, manifest_dir=args.manifest_dir,
            broadcast_batch=not args.no_broadcast_batch,
        )
        return
    run_corpus_job(
        spark, documents, args.output, run_id=args.run_id,
        shards=args.shards, resume=args.resume,
        manifest_dir=args.manifest_dir, num_hashes=args.num_hashes,
        bands=args.bands, shingle_n=args.shingle_n,
        jaccard_threshold=args.jaccard_threshold, hash_fn=args.hash_fn,
    )


if __name__ == "__main__":
    main()
