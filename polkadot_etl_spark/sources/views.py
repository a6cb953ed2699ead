"""View generation layer (SURVEY §2.1 S8/S9).

The reference publishes two view tiers over the big tables:
- recent views: ``CREATE OR REPLACE VIEW ... WHERE block_time >=
  now() - 109 days AND section:method NOT IN (noise list)`` (reference
  substrate/schema/dune-generaterecent.sql:1-20)
- cached copies: ``CREATE TABLE cached_* PARTITION BY ...`` CTAS
  refreshed on a schedule, plus a 60-min materialized view
  (substrate/views.sql:1-16, substrateetl.js:6100-6170)

Spark mapping: temp views for the former (zero-copy — Catalyst inlines
the predicate so partition pruning still happens), day-partitioned
parquet CTAS for the latter (the refresh job is just re-running the
build; dynamic partition overwrite makes it idempotent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the reference's published suppress list (dune-generaterecent.sql:3-6)
DEFAULT_SUPPRESS = (
    ("timestamp", "set"),
    ("paraInherent", "enter"),
    ("imOnline", "heartbeat"),
    ("parachainSystem", "setValidationData"),
)


def create_recent_view(
    df: DataFrame,
    name: str,
    time_col: str,
    anchor: str,
    days: int = 109,
    suppress: tuple[tuple[str, str], ...] = (),
    section_col: str = "section",
    method_col: str = "method",
) -> DataFrame:
    """S8 recent-window view: rows within ``days`` before ``anchor``
    minus the noise list. ``anchor`` is an explicit timestamp literal —
    never now() — so view contents are reproducible (and tests/oracles
    can pin it)."""
    out = df.where(
        F.col(time_col) >= F.to_timestamp(F.lit(anchor)) - F.expr(f"INTERVAL {days} DAYS")
    )
    if suppress:
        sm = F.concat_ws(":", F.col(section_col), F.col(method_col))
        out = out.where(~sm.isin(*[f"{s}:{m}" for s, m in suppress]))
    out.createOrReplaceTempView(name)
    return out


def materialize_cache(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    time_col: str,
    partition_col: str = "log_dt",
) -> DataFrame:
    """S9 cached table: CTAS to day-partitioned parquet (idempotent via
    dynamic partition overwrite) and return the re-read DataFrame — the
    refresh schedule is the caller's (the reference refreshes every 60
    min; here that's just re-invoking this)."""
    (
        df.withColumn(partition_col, F.to_date(F.col(time_col)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return spark.read.parquet(path)
