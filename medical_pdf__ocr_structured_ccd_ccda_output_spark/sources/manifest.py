"""Checkpointed manifest for resumable restarts (SURVEY §7.1).

The unit of resumability is a conv_id *range partition* (hash-bucketed
by pmod(xxhash64(conv_id), n_shards)).  A run processes shard by shard;
after each shard's outputs commit, the shard id is appended to the
manifest (a tiny parquet dir).  A restarted run anti-joins its input
against completed shards and recomputes only the remainder — the
reference's "partial results on failure" behavior lifted to cluster
scale (driver-side manifest, no Structured Streaming needed).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import is_iceberg_location, literal_rows


def manifest_location(output: str, manifest_dir: str | None) -> str:
    """`manifest_dir`, else ``<output>/_manifest``; an Iceberg catalog
    prefix has no directory to default into (ValueError)."""
    if manifest_dir is not None:
        return manifest_dir
    if is_iceberg_location(output):
        raise ValueError("--output is an Iceberg catalog prefix; pass an "
                         "explicit filesystem --manifest-dir for the manifest")
    return os.path.join(output, "_manifest")


def shard_of(conv_id_col, n_shards: int):
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_shards)).cast("int")


class _RunRows:
    """A parquet dir of small commit rows: one row appended per commit,
    read back filtered on run_id.  Subclasses name the columns after
    run_id."""

    COLUMNS: tuple[tuple[str, str], ...] = ()
    # read every file's footer, for dirs whose columns changed over time
    MERGE_SCHEMA = False

    def __init__(self, spark: SparkSession, path: str, run_id: str):
        self.spark = spark
        self.path = path
        self.run_id = run_id

    def _rows(self):
        """Rows for this run_id, or [] on first run.  ONLY the
        path-not-found case maps to "first run" — a corrupted footer or
        permission error must propagate, not silently restart the whole
        run (round-3 review fix)."""
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.option(
                "mergeSchema", str(self.MERGE_SCHEMA).lower()).parquet(self.path)
        except AnalysisException as e:
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return []
            raise
        return df.filter(F.col("run_id") == self.run_id).collect()

    def _append(self, *values) -> None:
        """Append the row (run_id, *values)."""
        literal_rows(self.spark, (("run_id", "string"), *self.COLUMNS),
                     [(self.run_id, *values)]) \
            .write.mode("append").parquet(self.path)


class Manifest(_RunRows):
    COLUMNS = (("shard", "int"), ("rows_out", "long"), ("n_shards", "int"))
    # manifests written before the n_shards column (and mixed-version
    # appends) must still read cleanly
    MERGE_SCHEMA = True

    def completed_shards(self) -> set[int]:
        return {r["shard"] for r in self._rows()}

    def mark_done(self, shard: int, rows_out: int,
                  n_shards: int | None = None) -> None:
        self._append(shard, rows_out, n_shards)

    def pending(self, transcripts: DataFrame, n_shards: int) -> list[int]:
        """Pending shard ids for a resume.  Refuses a shard count that
        differs from the recorded one: pmod(hash, n) bucketing is not
        stable across n, so resuming 64-shard work as 32 shards would
        silently skip every conversation whose new bucket is already
        marked done (round-3 review fix)."""
        rows = self._rows()
        recorded = {r["n_shards"] for r in rows
                    if "n_shards" in r.__fields__ and r["n_shards"] is not None}
        if recorded and recorded != {n_shards}:
            raise ValueError(
                f"manifest for run_id={self.run_id!r} was written with "
                f"--shards {sorted(recorded)}; resuming with --shards "
                f"{n_shards} would re-bucket conv_ids and silently skip "
                f"data. Re-run with the original shard count."
            )
        done = {r["shard"] for r in rows}
        return [s for s in range(n_shards) if s not in done]

    def filter_shard(self, transcripts: DataFrame, shard: int,
                     n_shards: int) -> DataFrame:
        return transcripts.filter(shard_of(F.col("conv_id"), n_shards) == shard)


class StageManifest(_RunRows):
    """String-keyed manifest for DAG-shaped jobs (corpus dedup).

    The extraction job's unit of resumability is a conv_id hash shard
    — every shard runs the same full pipeline independently.  Global
    dedup is different: near-duplicates cross any document sharding, so
    the pipeline is a DAG of *stages* (per-shard signature scans, then
    global pair/cluster/survivor shuffles), each materialized to a
    table before the next starts.  The resumability unit is therefore a
    stage name ("signatures/shard=3", "pairs", "clusters", ...); a
    restarted run skips completed stages and reads their materialized
    outputs back instead of recomputing them.
    """

    COLUMNS = (("stage", "string"), ("rows_out", "long"), ("note", "string"))

    def completed(self) -> set[str]:
        return {r["stage"] for r in self._rows()}

    def params(self) -> dict[str, str]:
        """Recorded run parameters (written with the first stage).
        Resuming with different dedup parameters would mix signatures
        from incompatible hash families — refuse, like the extraction
        manifest refuses a changed shard count."""
        for r in self._rows():
            if r["stage"] == "_params":
                return dict(kv.split("=", 1) for kv in r["note"].split(";") if kv)
        return {}

    def record_params(self, params: dict[str, object]) -> None:
        note = ";".join(f"{k}={v}" for k, v in sorted(params.items()))
        recorded = self.params()
        if recorded:
            wanted = dict(kv.split("=", 1) for kv in note.split(";") if kv)
            if recorded != wanted:
                raise ValueError(
                    f"stage manifest for run_id={self.run_id!r} was written "
                    f"with params {recorded}; resuming with {wanted} would "
                    f"mix incompatible signatures. Re-run with the original "
                    f"parameters or a new --run-id."
                )
            return
        self._append("_params", 0, note)

    def mark_done(self, stage: str, rows_out: int) -> None:
        self._append(stage, rows_out, "")
