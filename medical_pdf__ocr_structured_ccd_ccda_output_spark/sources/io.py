"""Table IO abstraction: Iceberg when a runtime catalog is configured,
parquet directory layout otherwise (this sandbox has no Iceberg jar).

The pipeline only calls read_table/write_table, so flipping to Iceberg
is a spark-submit flag away:
  spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v>
    --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog ...
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


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
