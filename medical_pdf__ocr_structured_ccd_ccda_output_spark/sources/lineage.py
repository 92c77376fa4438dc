"""Per-partition lineage rows + per-stage metrics (SURVEY §7.1).

lineage(run_id, stage, partition_id, rows, checksum): computed with a
single narrow pass — spark_partition_id() + groupBy — so the cost is
one small aggregation, no extra scan of the payload columns beyond the
checksum input.  The checksum is an order-insensitive XOR fold of
per-row xxhash64 (stable under partition-internal reordering, no
overflow under ANSI mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def lineage_rows(df: DataFrame, run_id: str, stage: str,
                 key_cols: list[str], hash_fn: str = "xxhash64") -> DataFrame:
    """hash_fn='md5' derives the 60-bit row hash from the md5 hex prefix
    of the unit-separator-joined key columns — engine-portable, so the
    GLOBAL checksum (XOR is partition-layout-independent) can be
    verified by an external engine."""
    if hash_fn == "md5":
        h = F.conv(
            F.substring(F.md5(F.concat_ws("\x1f", *key_cols)), 1, 15), 16, 10
        ).cast("long")
    else:
        h = F.xxhash64(*[F.col(c) for c in key_cols])
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_h", h)
        .groupBy("_pid")
        .agg(
            F.count("*").alias("rows"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            "rows",
            "checksum",
        )
    )

