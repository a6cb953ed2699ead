"""Keyed upsert (MERGE) over partitioned parquet — J10/X6.

The reference's every MySQL write is ``INSERT ... ON DUPLICATE KEY
UPDATE`` (reference substrate/substrateetl.js:6575, xcmmanager.js:484-490
upsertSQL). The lakehouse translation is Delta MERGE; on plain parquet
the same semantics are: read ONLY the partitions the update batch
touches, anti-join out the rows being replaced, union the new rows, and
dynamically overwrite just those partitions.

Scale properties: the rewrite unit is a partition (one chain-day), never
the table; the anti-join shuffles only (touched partitions + batch); a
replay of the same batch is a no-op in content (idempotent, X6) because
the same keys are replaced with the same rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert_day_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    time_col: str,
    partition_col: str = "log_dt",
) -> None:
    """MERGE ``updates`` into the day-partitioned parquet table at
    ``path``: rows matching on ``keys`` are replaced, new keys are
    inserted; only the partitions present in ``updates`` are rewritten.

    Dynamic overwrite is a writer option, so the caller's session keeps
    its own ``spark.sql.sources.partitionOverwriteMode``."""
    up = updates.withColumn(partition_col, F.to_date(F.col(time_col)))
    if not os.path.isdir(path):
        (
            up.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
        return
    days = [r[0].isoformat() for r in up.select(partition_col).dropDuplicates().collect()]
    existing = (
        spark.read.parquet(path)
        .where(F.col(partition_col).isin(days))
        .select(*up.columns)
    )
    kept = existing.join(up.select(*keys).dropDuplicates(), keys, "left_anti")
    (
        kept.unionByName(up)
        .repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
