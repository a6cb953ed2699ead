"""Test-table access + lake-layout writers.

Reading side: the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
Writing side: the lakehouse conventions that replace the reference's
BigQuery day-partitioned tables (SURVEY §2.1 S4/S5/S8): day-partitioned
parquet with dynamic partition overwrite so a re-run of one day atomically
replaces exactly that day — the Spark equivalent of
``bq load --replace '${tbl}$YYYYMMDD'`` (reference substrate/substrateetl.js:6553-6572).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Program memos (r14, guide §1.2/§7.3): plan machinery, not result
# caching. Each entry is an unresolved plan fragment or a planning fact
# reused across plans; every query still assembles, analyzes and
# EXECUTES its own plan from the parquet files on disk (nothing
# row-shaped is retained; the first build in any fresh JVM pays full
# price). Entries live in a dict held by one SparkContext or
# SparkSession and die with it, so a stopped context's py4j references
# are never served to its successor.
_MEMO_ATTR = "_polkadot_etl_memo"
_MEMO_LOCK = threading.Lock()  # builders load tables from worker threads


def _memo_for(owner) -> dict:
    """The memo dict owned by ``owner`` (any object that takes
    attributes). Keys are tuples whose first item names the memo, so
    memos sharing an owner never collide.

    The owner holds its memo as an attribute rather than a module-level
    registry holding it: a memoized DataFrame references its
    SparkSession, and a registry entry would keep every session it ever
    served alive (with whatever is tied to the session's lifetime)."""
    with _MEMO_LOCK:
        memo = getattr(owner, _MEMO_ATTR, None)
        if memo is None:
            memo = {}
            setattr(owner, _MEMO_ATTR, memo)
    return memo


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. Column pruning + predicate pushdown reach
    the parquet scan because callers filter/select on the returned
    DataFrame before any action (verify with .explain: PushedFilters).

    events.ts has been generated as parquet TIMESTAMP(NANOS) (which
    Spark's reader rejects without nanosAsLong) in some datasets and as a
    plain micros TIMESTAMP in others, so the handling is adaptive: read
    with nanosAsLong on (a no-op for non-NANOS files), convert to a
    timestamp only if the column actually came back as a long, and cast
    any NTZ variant to the session-TZ timestamp so every downstream
    consumer sees one type. Session timezone is pinned to UTC so
    date/epoch math matches the oracle even when the caller's session
    wasn't built by session.py (re-pinned on EVERY call, memo hit or
    not — the non-UTC-driver guard must hold per invocation).

    Constructing a scan costs ~150-300 ms of driver work (DataSource
    resolution, footer/schema read, py4j), so it is memoized per
    SparkSession (see ``_memo_for``), which puts two constraints on
    callers:

    - the files under ``sf_dir`` must not be rewritten within a session:
      the memoized scan keeps the schema and file listing of its first
      load;
    - two loads of the same table in one session are the SAME plan
      fragment with the same exprIds, so a self-join must join by
      name/USING or ``alias`` each side — a column reference such as
      ``df["k"]`` cannot tell the two sides apart."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    memo = _memo_for(spark)
    key = ("load_table", sf_dir, name)
    df = memo.get(key)
    if df is not None:
        return df
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # nanos-long → micros timestamp (lossless)
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type != "timestamp":  # timestamp_ntz → session-TZ (UTC) instant
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    memo[key] = df
    return df


def scan_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Planned split count of one table's parquet scan, memoized per
    (SparkContext, path) — one .rdd planning round trip per table per
    JVM (no job runs; split packing is decided at planning time from
    file sizes and maxPartitionBytes/openCostInBytes)."""
    memo = _memo_for(spark.sparkContext)
    key = ("scan_splits", sf_dir, name)
    n = memo.get(key)
    if n is None:
        n = memo[key] = load_table(spark, sf_dir, name).rdd.getNumPartitions()
    return n


def fan_out_scan(sf_dir: str, name: str, *keys):
    """Keyed fan-out for heavy per-row chains sitting directly above a
    table scan, GATED on the scan's actual split count (r14, ADVICE):

    - fixture grain: the test parquet is a single row group, so the scan
      cannot split and every heavy synthesis/encode chain above it runs
      as ONE task — the keyed repartition spreads it (the r13 fix).
    - production grain: the scan splits by row group into >= cores
      partitions, the chain above it is already parallel, and the same
      repartition would be a pure ADDED corpus-wide shuffle of payload
      rows (raw text/embeddings) — so it must vanish.

    Returns a ``DataFrame -> DataFrame`` for ``df.transform(...)``:
    repartition only when the table's planned split count is below the
    session's core count; pass through unchanged otherwise. The frame
    may be the scan itself or derived 1:1 from it (select/filter/
    synthesis) — the gate is a property of the TABLE's file layout.
    """

    def _apply(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        dp = spark.sparkContext.defaultParallelism
        if scan_splits(spark, sf_dir, name) >= dp:
            return df
        return df.repartition(dp, *keys)

    return _apply


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all test tables as temp views for spark.sql() use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_day_partitioned(
    df: DataFrame,
    path: str,
    time_col: str,
    partition_col: str = "log_dt",
    mode: str = "overwrite",
    cluster_by: list[str] | None = None,
    grain: str = "day",
) -> None:
    """Publish a silver/gold table partitioned on ``time_col``.

    Dynamic partition overwrite is a writer option, so mode="overwrite"
    replaces ONLY the partitions present in ``df`` whatever the
    session's ``spark.sql.sources.partitionOverwriteMode`` — the
    idempotent partition-replace the reference gets from BigQuery
    partition decorators (SURVEY X8). At 100 TB this is the unit of
    reprocessing: one chain-day, never a full-table rewrite.

    grain="hour" adds a second-level log_hr partition (0-23) under each
    day — the dump_gs_hourly export variant (substrateetl.js:5522-5650,
    per-(logDT, hr) AVRO extracts). Two-level (log_dt, log_hr) keeps
    day-level pruning working for daily readers while hourly replays
    replace exactly one hour.
    """
    # cluster_by sorts rows within each partition (e.g. block_number,
    # or address for per-address feeds) — the Spark replacement for the
    # reference's BigTable key design (8-hex block keys, inverted-TS keys,
    # SURVEY §4): parquet row-group min/max stats on the sorted columns
    # give the scan the same range-skipping a prefix-ordered key store does.
    out = df.withColumn(partition_col, F.to_date(F.col(time_col)))
    part_cols = [partition_col]
    if grain == "hour":
        out = out.withColumn("log_hr", F.hour(F.col(time_col)))
        part_cols.append("log_hr")
    elif grain != "day":
        raise ValueError(f"unknown grain {grain!r}")
    if cluster_by:
        out = out.sortWithinPartitions(*part_cols, *cluster_by)
    (
        out.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table (SURVEY §4 'co-located joins via bucketing'):
    both sides of a recurring big-big join written with the same
    (bucket_cols, n_buckets) join WITHOUT any exchange — the shuffle is
    paid once at write time instead of on every query. This is the
    replacement for the reference's hand-designed row keys when the same
    join runs daily (e.g. extrinsics × events on extrinsic_id).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)
