"""SURVEY §2 operator inventory expressed over the driver's synthetic
tables. Each query is the test-table analog of a concrete reference
operator; docstrings cite the reference file:line it mirrors.

The domain tables (events ≈ xcmmessages/assetlog streams, orders/customer ≈
extrinsics/address, lineitem ≈ transfers) let every operator class —
filters, band/as-of/anti/semi joins, grouped aggs, windows, set ops — run
against data the DuckDB oracle also sees. Output formatting follows
fmt.py's engine-neutral rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from polkadot_etl_spark.operators.asof import asof_join
from polkadot_etl_spark.operators.band import band_join_best_match
from polkadot_etl_spark.operators.topn import top_n_per_group
from polkadot_etl_spark.queries.fmt import (
    d_date,
    d_decsum,
    d_ts,
    s_date,
    s_dbl,
    s_decsum,
    s_ts,
)
from polkadot_etl_spark.queries.registry import query
from polkadot_etl_spark.sources.tables import load_table


def _ts_us(c):
    """Integer microseconds since epoch — exact cross-engine epoch math."""
    return F.unix_micros(c)


# ---------------------------------------------------------------------------
# Projections / filters / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@query(
    "interval_sampling",
    oracle=f"""
SELECT event_id, {d_ts('ts')} AS ts, user_id, event_type, value
FROM events
WHERE (epoch_us(ts) // 1000000) % 60 = 0
""",
    doc="P2 interval-sampling filter: indexTS % k = 0 downsampling "
    "(reference query.js:2038-2049). Deterministic predicate over integer "
    "epoch seconds, pushed toward the scan.",
    tags=("filter",),
)
def interval_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.where(F.expr("(unix_micros(ts) div 1000000) % 60 = 0")).select(
        "event_id", s_ts("ts").alias("ts"), "user_id", "event_type", "value"
    )


@query(
    "noise_suppression",
    oracle=f"""
SELECT event_id, {d_ts('ts')} AS ts, user_id, event_type, value
FROM events
WHERE event_type NOT IN ('error', 'signup')
""",
    doc="P3 noise-row suppression: drop system noise like timestamp:set / "
    "imOnline:heartbeat (reference assetManager.js:3214 suppress_call; "
    "dune-generaterecent.sql:3-6 NOT IN lists).",
    tags=("filter",),
)
def noise_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.where(~F.col("event_type").isin("error", "signup")).select(
        "event_id", s_ts("ts").alias("ts"), "user_id", "event_type", "value"
    )


@query(
    "like_filter",
    oracle="""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE text LIKE '%spark%'
""",
    doc="P5 LIKE filter (reference xcmmanager.js:259 msgStr LIKE '%hrmp%') "
    "with column pruning: only 4 of 5 columns read from parquet.",
    tags=("filter",),
)
def like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.where(F.col("text").like("%spark%")).select("doc_id", "lang", "source", "n_chars")


@query(
    "dynamic_predicates",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
WHERE (user_id = 7 OR user_id = 11)
  AND event_type IN ('click', 'view', 'purchase')
  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
  AND value >= 1.0
""",
    doc="P1 dynamic predicate builder: composed equality/IN/range/"
    "disjunction filters (reference query.js:1495-1532 getXCMTransfers).",
    tags=("filter",),
)
def dynamic_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.where(
        ((F.col("user_id") == 7) | (F.col("user_id") == 11))
        & F.col("event_type").isin("click", "view", "purchase")
        & (F.col("ts") >= F.lit("2024-01-05"))
        & (F.col("ts") < F.lit("2024-01-20"))
        & (F.col("value") >= 1.0)
    ).select("event_id", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "band_join_tiebreak",
    oracle="""
WITH src AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
     dst AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events WHERE event_type = 'purchase'),
     joined AS (
       SELECT s.event_id AS src_event_id, d.event_id AS d_event_id,
              d.value AS d_value, d.ts_us - s.ts_us AS diff,
              ROW_NUMBER() OVER (PARTITION BY s.event_id
                                 ORDER BY d.ts_us - s.ts_us ASC, d.event_id ASC) AS rn
       FROM src s JOIN dst d ON s.user_id = d.user_id
       WHERE d.ts_us - s.ts_us BETWEEN 0 AND 600000000
     )
SELECT src_event_id, d_event_id, d_value, diff FROM joined WHERE rn = 1
""",
    doc="J1+W2 band join with first-match-wins tie-break — the XCM message "
    "match (reference xcmmanager.js:417-497: equi keys + sentAt band 0..4, "
    "ORDER BY diff then first per key). Equi-key shuffle join + band "
    "post-filter + rank-1 window; no cross product at scale.",
    tags=("join", "window", "headline"),
)
def band_join_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("ts_us", _ts_us(F.col("ts")))
    src = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts_us")
    dst = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_us", "value")
    best = band_join_best_match(
        source=src,
        dest=dst,
        keys=["user_id"],
        source_ts="ts_us",
        dest_ts="ts_us",
        lower=0,
        upper=600_000_000,  # 600 s in microseconds
        source_id="event_id",
        tie_break=["event_id"],
    )
    return best.select(
        F.col("event_id").alias("src_event_id"),
        F.col("d_event_id"),
        F.col("d_value"),
        F.col("diff"),
    )


@query(
    "asof_join_last_purchase",
    oracle=f"""
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     purchases AS (
       SELECT user_id, ts, MAX(value) AS last_purchase_value
       FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
     )
SELECT c.event_id, c.user_id, {d_ts('c.ts')} AS ts, p.last_purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""",
    doc="J3 as-of join — price-at-timestamp (reference computePriceUSD, "
    "assetManager.js:1392-1534, binary search :1479). Implemented as "
    "union+last-over-window: one shuffle, no range-join explosion "
    "(operators/asof.py).",
    tags=("join", "asof", "headline"),
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    return asof_join(
        left=clicks,
        right=purchases,
        by=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_purchase_value"],
    ).select("event_id", "user_id", s_ts("ts").alias("ts"), "last_purchase_value")


@query(
    "anti_join_no_urgent",
    oracle="""
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
""",
    doc="J9/U2 anti-join — passive accounts = transfer-touched minus active "
    "set (reference docs/DEFINITIONS.md:106-178).",
    tags=("join",),
)
def anti_join_no_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "semi_join_building",
    oracle=f"""
SELECT o.o_orderkey, o.o_totalprice, {d_date('o.o_orderdate')} AS order_date
FROM orders o
WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
""",
    doc="J11 semi-join via subquery — chainID IN (SELECT ... WHERE "
    "crawling=1) (reference substrateetl.js:3964).",
    tags=("join",),
)
def semi_join_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_totalprice", s_date("o_orderdate").alias("order_date")
    )


@query(
    "first_attribution",
    oracle="""
SELECT user_id,
       MIN(LPAD(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '_' || event_type) AS first_event_key
FROM events
GROUP BY user_id
""",
    doc="J7 first-attribution via min(concat(...)) — exchange attribution "
    "(reference substrateetl.js:616-631).",
    tags=("join", "agg"),
)
def first_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(_ts_us(F.col("ts")).cast("string"), 20, "0"), F.lit("_"), F.col("event_type")
    )
    return e.groupBy("user_id").agg(F.min(key).alias("first_event_key"))


@query(
    "left_join_dim_agg",
    oracle=f"""
SELECT n.n_name,
       COALESCE(a.n_cust, 0) AS n_cust,
       COALESCE(a.sum_bal, 0.0) AS sum_bal
FROM nation n
LEFT JOIN (
  SELECT c_nationkey, COUNT(*) AS n_cust,
         {d_decsum('c_acctbal')} AS sum_bal
  FROM customer GROUP BY c_nationkey
) a ON n.n_nationkey = a.c_nationkey
""",
    doc="J8 left join fact×aggregate — validators × per-era reward "
    "aggregate (reference docs/StakingAnalytics.md validators0).",
    tags=("join", "agg"),
)
def left_join_dim_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    agg = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"), s_decsum(F.col("c_acctbal")).alias("sum_bal"))
    )
    # broadcast the AGGREGATED side: a LeftOuter join can only build its
    # right (non-preserved) side, so a broadcast hint on the preserved dim
    # is silently ignored ("build left for left outer join" warning) and
    # the plan degrades to a shuffle. Post-groupBy the agg is dim-sized
    # (≤ distinct nation keys) — the correct broadcast at any scale.
    return (
        n.join(F.broadcast(agg), n.n_nationkey == agg.c_nationkey, "left")
        .select(
            "n_name",
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("sum_bal"), F.lit(0.0)).alias("sum_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "daily_order_metrics",
    oracle=f"""
SELECT {d_date('o_orderdate')} AS order_day,
       COUNT(*) AS num_orders,
       COUNT(DISTINCT o_custkey) AS num_custs,
       {d_decsum('o_totalprice')} AS total_usd,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS num_finished
FROM orders
GROUP BY 1
""",
    doc="A1 daily chain metrics — update_blocklog (reference "
    "substrateetl.js:9369-9428): count, conditional count, distinct "
    "actors, USD sum per day.",
    tags=("agg", "headline"),
)
def daily_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(s_date("o_orderdate").alias("order_day")).agg(
        F.count(F.lit(1)).alias("num_orders"),
        F.countDistinct("o_custkey").alias("num_custs"),
        s_decsum(F.col("o_totalprice")).alias("total_usd"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("num_finished"),
    )


@query(
    "trailing_rollups",
    oracle="""
WITH anchor AS (SELECT MAX(o_orderdate) AS mx FROM orders)
SELECT COUNT(*) FILTER (WHERE o_orderdate >= mx - INTERVAL 7 DAY)   AS num_orders_7d,
       COUNT(*) FILTER (WHERE o_orderdate >= mx - INTERVAL 30 DAY)  AS num_orders_30d,
       COUNT(*)                                                     AS num_orders_all,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) FILTER (WHERE o_orderdate >= mx - INTERVAL 30 DAY) AS VARCHAR) AS DOUBLE) AS usd_30d,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS usd_all
FROM orders, anchor
""",
    doc="A2 rolling 7/30/all-time rollups — numExtrinsics7d/30d "
    "(reference substrateetl.js:9487-9508). Conditional aggregation: one "
    "pass, no per-window rescans.",
    tags=("agg",),
)
def trailing_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    j = o.crossJoin(F.broadcast(anchor))
    in7 = F.col("o_orderdate") >= F.col("mx") - F.expr("INTERVAL 7 DAYS")
    in30 = F.col("o_orderdate") >= F.col("mx") - F.expr("INTERVAL 30 DAYS")
    return j.agg(
        F.count(F.when(in7, 1)).alias("num_orders_7d"),
        F.count(F.when(in30, 1)).alias("num_orders_30d"),
        F.count(F.lit(1)).alias("num_orders_all"),
        F.sum(F.when(in30, F.col("o_totalprice").cast("decimal(38,10)"))).cast("double").alias("usd_30d"),
        s_decsum(F.col("o_totalprice")).alias("usd_all"),
    )


@query(
    "monthly_rollup_having",
    oracle=f"""
SELECT {d_date("LAST_DAY(CAST(o_orderdate AS DATE))")} AS month_dt,
       COUNT(*) AS num_orders,
       COUNT(DISTINCT o_custkey) AS num_custs,
       {d_decsum('o_totalprice')} AS total_usd
FROM orders
GROUP BY 1
HAVING LAST_DAY(MIN(CAST(o_orderdate AS DATE))) <= DATE '2000-12-31'
""",
    doc="A3 monthly rollup + HAVING — blocklogstats per LAST_DAY(logDT) "
    "(reference substrateetl.js:3962-3995).",
    tags=("agg",),
)
def monthly_rollup_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.last_day(F.to_date("o_orderdate")).alias("__month"))
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            F.countDistinct("o_custkey").alias("num_custs"),
            s_decsum(F.col("o_totalprice")).alias("total_usd"),
        )
        .where(F.col("__month") <= F.lit("2000-12-31"))
        .select(
            s_date("__month").alias("month_dt"), "num_orders", "num_custs", "total_usd"
        )
    )


@query(
    "active_accounts_union",
    oracle=f"""
SELECT user_id, MAX(account_type) AS account_type,
       {d_ts('MAX(last_seen)')} AS last_seen,
       CAST(SUM(n) AS BIGINT) AS n_events
FROM (
  SELECT user_id, 'user' AS account_type, MAX(ts) AS last_seen, COUNT(*) AS n
  FROM events WHERE event_type IN ('click','view','purchase') GROUP BY user_id
  UNION ALL
  SELECT user_id, 'system' AS account_type, MAX(ts) AS last_seen, COUNT(*) AS n
  FROM events WHERE event_type = 'signup' GROUP BY user_id
) u
GROUP BY user_id
""",
    doc="A4/U1 active accounts: UNION ALL of signers and authors then "
    "groupwise max (reference docs/DEFINITIONS.md:55-100).",
    tags=("agg", "setop"),
)
def active_accounts_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    users = (
        e.where(F.col("event_type").isin("click", "view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.lit("user").alias("account_type"),
            F.max("ts").alias("last_seen"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    system = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.lit("system").alias("account_type"),
            F.max("ts").alias("last_seen"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        users.unionByName(system)
        .groupBy("user_id")
        .agg(
            F.max("account_type").alias("account_type"),
            s_ts(F.max("last_seen")).alias("last_seen"),
            F.sum("n").alias("n_events"),
        )
    )


@query(
    "duplicate_detection",
    oracle="""
SELECT l_orderkey, l_partkey, COUNT(*) AS cnt
FROM lineitem
GROUP BY l_orderkey, l_partkey
HAVING COUNT(*) >= 2
""",
    doc="A5 duplicate-event audit — GROUP BY event_id HAVING cnt>=2 "
    "(reference substrateetl.js:5324).",
    tags=("agg", "audit"),
)
def duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_orderkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
    )


@query(
    "fee_distribution_stats",
    oracle=f"""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         {d_decsum('l_extendedprice')} AS s1,
         {d_decsum('l_extendedprice * l_extendedprice')} AS s2
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       s1 / n AS avg_fee,
       SQRT(GREATEST((s2 - (s1 * s1) / n) / (n - 1), 0.0)) AS std_fee,
       CASE WHEN SQRT(GREATEST((s2 - (s1 * s1) / n) / (n - 1), 0.0)) = 0
            THEN (s1 / n) * 0.2
            ELSE SQRT(GREATEST((s2 - (s1 * s1) / n) / (n - 1), 0.0)) END AS fee_spread
FROM s
""",
    doc="A6 teleport-fee distribution: avg/std per group with "
    "if(std=0, avg*0.2, std) fallback (reference substrateetl.js:3201). "
    "Stddev via exact decimal sums of x and x² so the arithmetic is the "
    "same IEEE op sequence in both engines (no Welford-order drift).",
    tags=("agg",),
)
def fee_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        s_decsum(F.col("l_extendedprice")).alias("s1"),
        s_decsum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("s2"),
    )
    std = F.sqrt(
        F.greatest(
            (F.col("s2") - (F.col("s1") * F.col("s1")) / F.col("n")) / (F.col("n") - 1), F.lit(0.0)
        )
    )
    return s.select(
        "l_returnflag",
        (F.col("s1") / F.col("n")).alias("avg_fee"),
        std.alias("std_fee"),
        F.when(std == 0, (F.col("s1") / F.col("n")) * 0.2).otherwise(std).alias("fee_spread"),
    )


@query(
    "collect_sorted_list",
    oracle="""
SELECT o_custkey,
       STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
""",
    doc="A8 ARRAY_AGG of nominators per validator (reference "
    "docs/StakingAnalytics.md:15-28) — collect_list sorted for a "
    "deterministic cross-engine representation.",
    tags=("agg",),
)
def collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list("o_orderkey")), lambda x: x.cast("string")), ","
        ).alias("order_keys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "channel_daily_summary",
    oracle=f"""
SELECT event_type, {d_date('ts')} AS log_dt,
       COUNT(*) AS cnt,
       {d_decsum('COALESCE(value, 0)')} AS sum_value
FROM events
GROUP BY event_type, {d_date('ts')}
HAVING {d_date('ts')} < '2024-01-30'
""",
    doc="A9 XCM daily channel summary: counts + sum(ifnull(usd,0)) per "
    "channel per day, HAVING logDT < today (reference "
    "substrateetl.js:5221-5300 update_xcm_summary).",
    tags=("agg",),
)
def channel_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", s_date("ts").alias("log_dt"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            s_decsum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_value"),
        )
        .where(F.col("log_dt") < "2024-01-30")
    )


@query(
    "ohlcv_hourly",
    oracle=f"""
WITH ranked AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS bucket, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                            ORDER BY ts ASC, event_id ASC)  AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, {d_ts('bucket')} AS bucket,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       {d_decsum('value')} AS volume,
       COUNT(*) AS n_trades
FROM ranked
GROUP BY event_type, bucket
""",
    doc="A10 OHLCV bucket maintenance (reference polkaholic.sql:1528-1553, "
    "priceManager.js:223-370): open/close via total-ordered rank, "
    "high/low/volume native. groupBy(window(ts)) equivalent.",
    tags=("agg", "window", "headline"),
)
def ohlcv_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("bucket", F.date_trunc("hour", F.col("ts")))
    w_a = Window.partitionBy("event_type", "bucket").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_d = Window.partitionBy("event_type", "bucket").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ranked = e.withColumn("rn_a", F.row_number().over(w_a)).withColumn("rn_d", F.row_number().over(w_d))
    return ranked.groupBy("event_type", s_ts("bucket").alias("bucket")).agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        s_decsum(F.col("value")).alias("volume"),
        F.count(F.lit(1)).alias("n_trades"),
    )


@query(
    "topn_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
WHERE rn <= 3
""",
    doc="A11/T3 top-N per key — addressTopN rank tables (reference "
    "polkaholic.sql:89-104, query.js:4349-4427).",
    tags=("window",),
)
def topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return top_n_per_group(
        o,
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        n=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


@query(
    "size_histogram",
    oracle=f"""
SELECT CASE WHEN o_totalprice < 25000 THEN 'tiny'
            WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            WHEN o_totalprice < 300000 THEN 'large'
            ELSE 'xlarge' END AS bucket,
       COUNT(*) AS n_orders,
       {d_decsum('o_totalprice')} AS sum_usd
FROM orders
GROUP BY 1
""",
    doc="A12 binned user-size histogram (reference tools/pugpua.sql).",
    tags=("agg",),
)
def size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 25000, "tiny")
        .when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .when(F.col("o_totalprice") < 300000, "large")
        .otherwise("xlarge")
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        s_decsum(F.col("o_totalprice")).alias("sum_usd"),
    )


@query(
    "customer_lifetime_stats",
    oracle=f"""
SELECT o_custkey,
       {d_date('MIN(o_orderdate)')} AS first_order,
       {d_date('MAX(o_orderdate)')} AS last_order,
       COUNT(*) AS n_orders,
       {d_decsum('o_totalprice')} AS sum_usd,
       {d_decsum('o_totalprice')} / COUNT(*) AS avg_usd,
       COUNT(DISTINCT o_orderpriority) AS n_priorities
FROM orders
GROUP BY o_custkey
""",
    doc="A13 per-address lifetime stats — the `address` wide table "
    "(reference polkaholic.sql:49-88): first/last TS, counts, sums, avgs.",
    tags=("agg",),
)
def customer_lifetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        s_date(F.min("o_orderdate")).alias("first_order"),
        s_date(F.max("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        s_decsum(F.col("o_totalprice")).alias("sum_usd"),
        (s_decsum(F.col("o_totalprice")) / F.count(F.lit(1))).alias("avg_usd"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "lag_change_detection",
    oracle=f"""
WITH w AS (
  SELECT user_id, event_id, ts, value,
         LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
         LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id, {d_ts('ts')} AS ts, value, prev_value, prev_event_id
FROM w
WHERE prev_value IS NULL OR value <> prev_value
""",
    doc="W1 LAG change detection — reserved/frozen balance change flags "
    "(reference docs/AccountAnalytics.md:34-140 reservereference0).",
    tags=("window",),
)
def lag_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    out = e.select(
        "user_id",
        "event_id",
        s_ts("ts").alias("ts"),
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("event_id").over(w).alias("prev_event_id"),
    )
    return out.where(F.col("prev_value").isNull() | (F.col("value") != F.col("prev_value")))


@query(
    "best_by_rank",
    oracle=f"""
SELECT event_type, {d_date('bucket')} AS bucket, event_id, value
FROM (
  SELECT event_type, DATE_TRUNC('day', ts) AS bucket, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('day', ts)
                            ORDER BY value ASC, event_id ASC) AS rn
  FROM events
)
WHERE rn = 1
""",
    doc="W3 best-by-liquidity per timestamp: keep lowest-rank row per "
    "bucket (reference query.js:2078-2091).",
    tags=("window",),
)
def best_by_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("bucket", F.date_trunc("day", F.col("ts")))
    w = Window.partitionBy("event_type", "bucket").orderBy(F.col("value").asc(), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", s_date("bucket").alias("bucket"), "event_id", "value")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops / audits (SURVEY §2.6, §2.7, X7)
# ---------------------------------------------------------------------------


@query(
    "topk_paging",
    oracle=f"""
SELECT event_id, {d_ts('ts')} AS ts, user_id, event_type, value
FROM events
ORDER BY events.ts DESC, event_id DESC
LIMIT 100
""",
    doc="T1 ORDER BY ts DESC LIMIT n paging (reference query.js:1530-1532, "
    "2645-2695). Distributed TakeOrdered — no global sort.",
    tags=("topk",),
)
def topk_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
        .select("event_id", s_ts("ts").alias("ts"), "user_id", "event_type", "value")
    )


@query(
    "distinct_pairs",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
    doc="U3 stream dedup of repeated observations — xcmmessages_dedup "
    "(reference xcmmanager.js:608-646) as dropDuplicates.",
    tags=("setop",),
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates()


@query(
    "gap_detection",
    oracle="""
WITH bounds AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS lo, MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders
),
calendar AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds
),
present AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders)
SELECT strftime(c.day, '%Y-%m-%d') AS missing_day
FROM calendar c
WHERE NOT EXISTS (SELECT 1 FROM present p WHERE p.day = c.day)
""",
    doc="X7 gap detection + backfill marker — audit_chain missing blocks "
    "(reference crawler.js:420-570; substrateetl.js:6520-6528): expected "
    "range anti-join present days.",
    tags=("audit", "setop"),
)
def gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"), F.max(F.to_date("o_orderdate")).alias("hi")
    )
    calendar = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    present = o.select(F.to_date("o_orderdate").alias("day")).dropDuplicates()
    return calendar.join(present, "day", "left_anti").select(s_date("day").alias("missing_day"))


@query(
    "rollup_daily_type",
    oracle=f"""
SELECT COALESCE(event_type, '<all>') AS event_type,
       COALESCE({d_date('ts')}, '<all>') AS log_dt,
       COUNT(*) AS cnt,
       {d_decsum('COALESCE(value, 0)')} AS sum_value
FROM events
GROUP BY ROLLUP (event_type, {d_date('ts')})
""",
    doc="Hierarchical ROLLUP totals (type, day) -> (type) -> (). The "
    "reference computes its rollup tiers with separate queries "
    "(SURVEY §2.4: A1 daily + A2 trailing + chain totals); GROUPING "
    "SETS folds them into ONE pass over the fact table — strictly "
    "fewer scans at 100 TB. NULL group markers are coalesced to a "
    "literal so both engines hash identically.",
    tags=("agg",),
)
def rollup_daily_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.rollup("event_type", s_date("ts").alias("log_dt"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            s_decsum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("log_dt", F.lit("<all>")).alias("log_dt"),
            "cnt",
            "sum_value",
        )
    )


@query(
    "approx_distinct_users",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type
""",
    doc="approx_count_distinct (HyperLogLog++) per event_type, HASH-"
    "GATED against the exact count — the documented opt-in for 100 TB "
    "cardinality work (SURVEY §2.4: reference uses exact "
    "COUNT(DISTINCT) at substrateetl.js:9385; at scale the exact form "
    "shuffles every distinct key, the sketch shuffles fixed-size "
    "registers). HLL register values differ across engines BY DESIGN, "
    "so the raw estimate can never hash-match an oracle; what CAN is "
    "the accuracy contract: the gate pins (event_type, exact count, "
    "within_5pct) where within_5pct = |approx - exact| <= "
    "greatest(1, 0.05 * exact) computed Spark-side and pinned TRUE by "
    "the oracle — an HLL drift past 5% now hash-mismatches loudly "
    "instead of hiding behind a rows-only check (this retired the "
    "registry's last no_oracle row, r10 verdict task #7). The raw "
    "estimate stays pinned at the tighter tolerance in "
    "tests/test_queries_oracle.py.",
    tags=("agg",),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    within = F.abs(F.col("approx_users") - F.col("exact_users")) <= F.greatest(
        F.lit(1).cast("long"), (F.col("exact_users") * 0.05).cast("long")
    )
    return agg.select("event_type", "exact_users", within.alias("within_5pct"))


@query(
    "fee_percentiles",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
       ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Ordered-statistics aggregation: exact interpolated median/p95 "
    "per group — the fee-distribution class (A6) extended beyond the "
    "reference's avg/std. Exact percentile sorts within groups (one "
    "shuffle); at 100 TB swap to approx_percentile and record the "
    "rank error, same as the countDistinct/HLL trade. Rounded to 6dp "
    "in BOTH engines: interpolation arithmetic is one subtract/"
    "multiply/add on identical doubles.",
    tags=("agg",),
)
def fee_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "approx_percentile_rank_error",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
       ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS exact_p95,
       TRUE AS p50_within_tol,
       TRUE AS p95_within_tol
FROM lineitem GROUP BY l_returnflag
""",
    doc="approx_percentile (Greenwald-Khanna sketch) RANK-ERROR card, "
    "hash-gated — the ordered-statistics sibling of "
    "approx_distinct_users' HLL accuracy contract, and the measured "
    "form of fee_percentiles' docstring promise ('at 100 TB swap to "
    "approx_percentile and record the rank error'): per group, the "
    "sketch (accuracy=100, so guaranteed rank error <= n/100) returns "
    "an actual element; its true rank INTERVAL [count(<v), count(<=v)] "
    "— the tie-correct form: with duplicated prices the upper rank "
    "alone can exceed the target by the tie mass — must overlap "
    "[q*n - n/100 - 1, q*n + n/100 + 1], checked in EXACT integer "
    "arithmetic (rank_lo*100 <= q*100*n + n + 100 and rank_hi*100 >= "
    "q*100*n - n - 100). The gate pins (n, exact percentile, both "
    "booleans TRUE); the sketch values stay out of the hash (their "
    "exact placement is implementation-defined within the guarantee). "
    "At 100 TB the exact form sorts every group; the sketch shuffles "
    "O(1/eps log(eps n)) summaries — this card is the licence to swap, "
    "with the guarantee verified not assumed. Scale shape: one grouped "
    "sketch agg + one broadcast join back for the rank counts.",
    tags=("agg", "audit"),
)
def approx_percentile_rank_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    ap = l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95], 100).alias("ap"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("exact_p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("exact_p95"),
    )
    price = F.col("l_extendedprice")
    ranks = (
        l.join(F.broadcast(ap), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.max("n").alias("n"),
            F.max("exact_p50").alias("exact_p50"),
            F.max("exact_p95").alias("exact_p95"),
            F.sum((price < F.col("ap")[0]).cast("long")).alias("lo50"),
            F.sum((price <= F.col("ap")[0]).cast("long")).alias("hi50"),
            F.sum((price < F.col("ap")[1]).cast("long")).alias("lo95"),
            F.sum((price <= F.col("ap")[1]).cast("long")).alias("hi95"),
        )
    )
    def within(q100: int, lo: str, hi: str):
        n = F.col("n")
        return (F.col(lo) * 100 <= q100 * n + n + 100) & (
            F.col(hi) * 100 >= q100 * n - n - 100
        )

    return ranks.select(
        "l_returnflag",
        "n",
        "exact_p50",
        "exact_p95",
        within(50, "lo50", "hi50").alias("p50_within_tol"),
        within(95, "lo95", "hi95").alias("p95_within_tol"),
    )


@query(
    "moving_avg_7d",
    oracle=f"""
WITH daily AS (
  SELECT user_id, CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS day_idx,
         {d_date('ts')} AS log_dt,
         SUM(CAST(value AS DECIMAL(38,10))) AS day_value
  FROM events GROUP BY 1, 2, 3
)
SELECT user_id, log_dt,
       CAST(CAST(SUM(day_value) OVER w AS VARCHAR) AS DOUBLE)
         / COUNT(*) OVER w AS avg_7d,
       COUNT(*) OVER w AS days_present
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day_idx
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
    doc="7-day trailing moving average per user via a RANGE frame over "
    "an integer day index — the windowed form of the reference's "
    "trailing rollups (A2, substrateetl.js:9487): RANGE (not ROWS) so "
    "missing days shrink the window instead of silently stretching it. "
    "Numerator stays DECIMAL until one final cast; denominator is the "
    "frame row count — one IEEE divide on identical operands.",
    tags=("window", "agg"),
)
def moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id",
        (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86_400_000_000)).cast("bigint").alias("day_idx"),
        s_date("ts").alias("log_dt"),
    ).agg(F.sum(F.col("value").cast("decimal(38,10)")).alias("day_value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_idx")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "user_id",
        "log_dt",
        (
            F.sum("day_value").over(w).cast("string").cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("avg_7d"),
        F.count(F.lit(1)).over(w).alias("days_present"),
    )


@query(
    "sessionize_events",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM ordered
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       {d_ts('MIN(ts)')} AS session_start,
       CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT)
         AS duration_s
FROM sessions GROUP BY user_id, session_id
""",
    doc="Gap-based sessionization (30-min inactivity): LAG flags session "
    "starts, a running SUM numbers them, one grouped agg summarizes — "
    "the standard two-window composition. Both windows and the agg "
    "share the user_id partitioning, so the whole pipeline is ONE "
    "shuffle + sorts. (ts, event_id) is a total order so session "
    "numbering is reproducible. The streaming twin is "
    "session_window(ts, '30 minutes') with a watermark.",
    tags=("window", "agg"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 1_800_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = e.select(
        "user_id", "ts", "event_id", new_session.alias("new_session")
    ).withColumn("session_id", F.sum("new_session").over(wc))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        s_ts(F.min("ts")).alias("session_start"),
        ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1_000_000)
        .cast("bigint")
        .alias("duration_s"),
    )


@query(
    "session_window_native",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM ordered
)
SELECT user_id, {d_ts('MIN(ts)')} AS session_start, COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
""",
    doc="Spark's NATIVE session_window operator cross-validated against "
    "an independent LAG-based sessionization oracle — the two "
    "formulations must produce identical sessions (same 30-min gap "
    "rule). session_window is also the streaming form (with a "
    "watermark); this pins its batch semantics to the SQL definition.",
    tags=("window", "agg"),
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            s_ts(F.col("session_window.start")).alias("session_start"),
            "n_events",
        )
    )


@query(
    "pivot_event_counts",
    oracle="""
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
FROM events GROUP BY user_id
""",
    doc="PIVOT: long→wide per-type counts per user (the per-address "
    "lifetime-stats table shape, A13, built with the pivot operator "
    "instead of hand-written conditional aggs). The pivot value list is "
    "EXPLICIT — never inferred — so the plan is a single partial→final "
    "agg with no extra distinct-values job and a stable schema.",
    tags=("agg", "pivot"),
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


@query(
    "unpivot_roundtrip",
    oracle="""
SELECT user_id, event_type, COUNT(*) AS cnt
FROM events
WHERE event_type IN ('click', 'view', 'purchase', 'signup', 'error')
GROUP BY user_id, event_type
""",
    doc="UNPIVOT (stack) as the exact inverse of PIVOT: the wide "
    "per-type count table unpivots back to long form and must equal "
    "the direct long aggregation (zero cells dropped, matching GROUP "
    "BY semantics). stack() is pure projection — the only shuffle is "
    "the original pivot agg.",
    tags=("agg", "pivot"),
)
def unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = e.groupBy("user_id").pivot("event_type", types).count().na.fill(0)
    stack_expr = "stack({n}, {args}) as (event_type, cnt)".format(
        n=len(types), args=", ".join(f"'{t}', `{t}`" for t in types)
    )
    return wide.select("user_id", F.expr(stack_expr)).where(F.col("cnt") > 0)


@query(
    "intersect_except_users",
    oracle="""
WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
     viewers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
     signups AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
SELECT 'buyer_and_viewer' AS cohort, COUNT(*) AS n FROM (
  SELECT user_id FROM buyers INTERSECT SELECT user_id FROM viewers)
UNION ALL
SELECT 'buyer_not_signup', COUNT(*) FROM (
  SELECT user_id FROM buyers EXCEPT SELECT user_id FROM signups)
""",
    doc="U4 set-op completion: INTERSECT (buyers ∩ viewers) and EXCEPT "
    "(buyers − signups) cohort counts. Spark plans both as hash "
    "left-semi / left-anti joins over the deduped key sets — same "
    "physical shape as the J9/J11 forms, surfaced through the set-op "
    "API the reference never needed (SURVEY §2.7 U4).",
    tags=("setop",),
)
def intersect_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")

    def cohort(t: str) -> DataFrame:
        return e.where(F.col("event_type") == t).select("user_id").dropDuplicates()

    buyers, viewers, signups = cohort("purchase"), cohort("view"), cohort("signup")
    both = buyers.intersect(viewers).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("buyer_and_viewer").alias("cohort"), "n"
    )
    only = buyers.exceptAll(signups).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("buyer_not_signup").alias("cohort"), "n"
    )
    return both.unionByName(only)
