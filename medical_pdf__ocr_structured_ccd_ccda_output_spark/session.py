"""SparkSession factory tuned for this engine.

local[N] in the sandbox; the same configs are what we'd submit on a
real cluster (AQE on, Arrow on, explicit shuffle partitioning, UTC).
"""

from __future__ import annotations

import os
import threading
from typing import Callable, Hashable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def get_spark(app_name: str = "ccda_extraction_engine",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # ContextCleaner only reclaims dropped cache/checkpoint blocks
        # after a JVM GC surfaces the dead references; the 30min default
        # lets repeated iterative jobs (closure loops, bench reps)
        # accumulate dead block-store entries for the whole interval
        .config("spark.cleaner.periodicGC.interval", "1min")
        # Shuffles at/below 200 reduce partitions default to the
        # bypass-merge writer: every map task opens one file PER reduce
        # partition (128-partition shuffle x 128 map tasks = 16k file
        # creates), and stage metrics showed shuffle-write time rivaling
        # compute time on the dedup DAG's narrow shuffles (53 of 73
        # task-seconds on one stage).  The sort-based writer (one spill
        # file per map task) measured ~7% faster end-to-end at x320;
        # shuffles wide enough to exceed 200 partitions — any real
        # cluster job — never used the bypass path anyway.
        .config("spark.shuffle.sort.bypassMergeThreshold", "8")
        # One job.main shard generates about 215 distinct whole-stage
        # classes; the default 100-entry codegen cache would evict them
        # before they repeat, and every later shard, stream batch or
        # pipeline in the same JVM would compile them all again
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# scan splits per core slot that tune_scan_splits aims for: >= 2-3 per
# slot leaves room to even out stragglers
SCAN_SPLITS_PER_CORE = 3


def tune_scan_splits(spark: SparkSession, *paths: str) -> int:
    """Size file-scan splits to the actual input so every core gets map
    work.

    The engine's map side is compute-heavy (regex normalization, md5
    digests, Arrow-UDF extraction, shingling) over snappy parquet that
    compresses web text ~5-10x, so the default 128 MB
    ``spark.sql.files.maxPartitionBytes`` + 4 MB ``openCostInBytes``
    packs a small-to-medium corpus into a handful of scan partitions —
    measured: the 56 MB x80 dedup corpus read as FIVE partitions, so
    ``md5(norm_text)`` over 400 k docs ran 5-wide no matter how many
    cores the session had (the round-4 anti-scaling artifact, BENCH.md).
    At 100 TB the default yields ~800 k splits and is fine; the general
    rule this helper encodes — split size must be sized to downstream
    MAP COMPUTE per byte, not scan throughput, with >= 2-3 splits per
    core slot for stragglers — applies at every scale.

    Sets ``maxPartitionBytes`` to ``total_input_bytes /
    (SCAN_SPLITS_PER_CORE * defaultParallelism)`` (floor 256 KB, cap 128 MB)
    and ``openCostInBytes`` proportionally so tiny-file packing honors
    the same target.  Local filesystem paths only (size probe walks the
    directory); non-local URIs are ignored.  Call BEFORE
    ``spark.read`` — the confs are read at scan planning time.
    Returns the chosen split size in bytes.

    The same wave-quantization rule is applied to SHUFFLE stages: in
    the compute-dense regime (chosen split < 64 MB, i.e. the input is
    small enough that byte-sized units under-parallelize the compute),
    AQE partition coalescing is disabled so the session's explicit
    ``spark.sql.shuffle.partitions`` (sized to 1-4 waves per core by
    the caller) survives.  Measured motive (round-5 event-log profile,
    BENCH.md): AQE's parallelism-first coalescing re-packed the dedup
    DAG's dominant 353 MB shuffle into 37 partitions on 32 task slots
    — ceil(37/32)=2 waves at 58 % utilization in the widest stage.  At
    production sizes (split at the 64 MB cap) the confs are left
    alone: 100 TB shuffles coalesce to ≫ slot-count partitions and the
    default behavior is right.
    """
    total = 0
    for p in paths:
        if not os.path.exists(p):
            continue
        if os.path.isfile(p):
            total += os.path.getsize(p)
            continue
        for root, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
    cores = spark.sparkContext.defaultParallelism
    target = total // max(1, SCAN_SPLITS_PER_CORE * cores)
    target = max(256 * 1024, min(128 * 1024 * 1024, target))
    open_cost = max(16 * 1024, min(4 * 1024 * 1024, target // 8))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    spark.conf.set("spark.sql.files.openCostInBytes", str(open_cost))
    if total and target < 64 * 1024 * 1024:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
    return target


_PER_CONTEXT: dict[tuple, object] = {}
_PER_CONTEXT_LOCK = threading.Lock()


def _context_of(df: DataFrame):
    return df.sparkSession.sparkContext


def context_cached(df: DataFrame, key: Hashable, build: Callable[[], T]) -> T:
    """``build()``'s result, built once per live SparkContext.

    For Column trees that are identical on every call: building one
    costs a py4j round trip per ``F.*`` node, hundreds for the
    extraction projection, while reusing a JVM Column in a new plan
    costs none (Columns are immutable and get their own analysis in
    every plan).  The entry is keyed on the SparkContext object itself,
    not its ``id()``: a stopped-and-recreated context is a new object,
    so it never sees Columns (or UDFs with broadcast state) made
    against the old one.  Only the current context's entries are kept —
    PySpark runs one SparkContext per process."""
    sc = _context_of(df)
    full_key = (sc, key)
    with _PER_CONTEXT_LOCK:
        hit = _PER_CONTEXT.get(full_key)
        if hit is None:
            for stale in [k for k in _PER_CONTEXT if k[0] is not sc]:
                del _PER_CONTEXT[stale]
            hit = _PER_CONTEXT[full_key] = build()
    return hit
