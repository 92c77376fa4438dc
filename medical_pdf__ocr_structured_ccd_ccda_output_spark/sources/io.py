"""Table IO abstraction: Iceberg when a runtime catalog is configured,
parquet directory layout otherwise (this sandbox has no Iceberg jar).

The pipeline only calls read_table/write_table, so flipping to Iceberg
is a spark-submit flag away:
  spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v>
    --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog ...
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


def is_iceberg_location(location: str) -> bool:
    """True when `location` names an Iceberg catalog prefix
    (catalog[.namespace]) rather than a filesystem directory.

    A catalog prefix has no scheme, no path separator, at least one
    dot, and does not exist on the local filesystem — so relative
    directories like `data/transcripts` or `out` route to the parquet
    layout instead of crashing on a missing Iceberg jar (round-3
    review fix: the old absolute-path test misrouted every relative
    path)."""
    return (
        "://" not in location
        and "/" not in location
        and os.sep not in location
        and "." in location
        and not os.path.exists(location)
    )


def read_table(spark: SparkSession, location: str, name: str) -> DataFrame:
    """location = Iceberg table prefix (catalog.db) or a directory."""
    if is_iceberg_location(location):
        return spark.read.format("iceberg").load(f"{location}.{name}")
    return spark.read.parquet(os.path.join(location, f"{name}.parquet"))


def write_table(df: DataFrame, location: str, name: str,
                mode: str = "overwrite") -> None:
    if is_iceberg_location(location):
        writer = df.writeTo(f"{location}.{name}")
        if mode == "append":
            writer.append()
        elif mode in ("error", "errorifexists"):
            writer.create()  # raises if the table already exists
        elif mode == "overwrite":
            writer.createOrReplace()
        else:
            raise ValueError(f"unsupported Iceberg write mode: {mode!r}")
        return
    df.write.mode(mode).parquet(os.path.join(location, f"{name}.parquet"))


def write_counted(df: DataFrame, location: str, name: str) -> int:
    """write_table (overwrite), returning the number of rows written: a
    fresh Observation counts them on the write, so nothing is read back."""
    rows = Observation()
    write_table(df.observe(rows, F.count(F.lit(1)).alias("n")),
                location, name, "overwrite")
    return rows.get["n"]


def literal_rows(spark: SparkSession, columns: tuple[tuple[str, str], ...],
                 rows: list[tuple]) -> DataFrame:
    """`rows` of Python values as a one-partition DataFrame with
    `columns` = (name, type) pairs, built in the JVM: a createDataFrame
    over a Python list waits seconds for a Python worker to start."""
    row_type = ", ".join(f"`{c}`: {t}" for c, t in columns)
    structs = [F.struct(*[F.lit(v).cast(t).alias(c)
                          for (c, t), v in zip(columns, row, strict=True)])
               for row in rows]
    return spark.range(1, numPartitions=1).select(
        F.inline(F.array(*structs).cast(f"array<struct<{row_type}>>")))
