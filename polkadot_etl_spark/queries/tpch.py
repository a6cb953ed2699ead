"""Headline relational queries (TPC-H-shaped) over the synthetic tables.

These are the generic scan→filter→join→agg→sort pipelines that every
reference ETL job reduces to (SURVEY §3.1: the daily dump is
scan→decorate→aggregate). They double as the bench.py headliners.

Scale notes: group-by aggregations run partial→final (map-side combine);
dimension joins (region/nation/customer) are broadcast — verified via
.explain("formatted") showing BroadcastHashJoin with no shuffle of the
fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polkadot_etl_spark.queries.fmt import d_dbl, d_decsum, s_date, s_dbl, s_decsum
from polkadot_etl_spark.queries.registry import query
from polkadot_etl_spark.sources.tables import load_table


@query(
    "tpch_q1",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {d_decsum('l_quantity')}                                       AS sum_qty,
       {d_decsum('l_extendedprice')}                                  AS sum_base_price,
       {d_decsum('l_extendedprice * (1 - l_discount)')}               AS sum_disc_price,
       {d_decsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {d_decsum('l_quantity')} / COUNT(*)      AS avg_qty,
       {d_decsum('l_extendedprice')} / COUNT(*) AS avg_price,
       {d_decsum('l_discount')} / COUNT(*)      AS avg_disc,
       COUNT(*)                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary — the A1 grouped-agg class (reference "
    "update_blocklog, substrateetl.js:9369-9428) on the biggest fact table.",
    tags=("agg", "headline"),
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        s_decsum(F.col("l_quantity")).alias("sum_qty"),
        s_decsum(F.col("l_extendedprice")).alias("sum_base_price"),
        s_decsum(disc_price).alias("sum_disc_price"),
        s_decsum(charge).alias("sum_charge"),
        # avg = exact-decimal-sum ÷ count: one IEEE division on identical
        # operands in both engines — no ROUND boundary hazard.
        (s_decsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
        (s_decsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
        (s_decsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "tpch_q3",
    oracle=f"""
SELECT l.l_orderkey,
       {d_decsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-30'
  AND l.l_shipdate  > TIMESTAMP '1998-06-30'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))) DESC,
         o.o_orderdate ASC, l.l_orderkey ASC
LIMIT 10
""",
    doc="TPC-H Q3 shipping priority — multi-join + agg + total-ordered "
    "top-k (reference T1 list APIs, query.js:1530-1532).",
    tags=("join", "topk", "headline"),
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-06-30"))
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-06-30"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,10)")).alias(
                "__rev"
            )
        )
        .orderBy(F.col("__rev").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            s_dbl(F.col("__rev")).alias("revenue"),
            s_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
    )


@query(
    "tpch_q5_regional_revenue",
    oracle=f"""
SELECT n.n_name,
       {d_decsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1999-01-01'
GROUP BY n.n_name
""",
    doc="TPC-H Q5-shaped regional revenue — 5-way star join with broadcast "
    "dims (reference J12 dimension decoration, assetManager.js:1412-1448).",
    tags=("join", "agg", "headline"),
)
def tpch_q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1999-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            s_decsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
SELECT {d_decsum('l_extendedprice * l_discount')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 forecast revenue — pure scan+filter+scalar agg; all "
    "three predicates push to the parquet scan (PushedFilters), no "
    "shuffle beyond the single-row final agg.",
    tags=("agg", "headline"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        s_decsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4-shaped order-priority check — EXISTS correlated "
    "subquery as a left-semi join (reference J11 semi-join pattern, "
    "substrateetl.js:3964). The commitdate<receiptdate predicate is "
    "replaced by l_returnflag='R' (column not in the synthetic schema).",
    tags=("join", "agg"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {d_decsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       {d_dbl('c.c_acctbal')} AS c_acctbal, n.n_name
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,10))) DESC,
         c.c_custkey ASC
LIMIT 20
""",
    doc="TPC-H Q10 returned-item reporting — 4-way join + agg + "
    "total-ordered top-20 (custkey tie-break). nation broadcast; "
    "customer joins after the fact side is pre-aggregated by AQE.",
    tags=("join", "topk", "headline"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,10)"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(rev.alias("__rev"))
        .orderBy(F.col("__rev").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            s_dbl(F.col("__rev")).alias("revenue"),
            s_dbl(F.col("c_acctbal")).alias("c_acctbal"),
            "n_name",
        )
    )


@query(
    "tpch_q14_promo_revenue",
    oracle=f"""
SELECT 100.0 * {d_decsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             / {d_decsum('l.l_extendedprice * (1 - l.l_discount)')} AS promo_revenue_pct,
       COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1996-02-01'
""",
    doc="TPC-H Q14 promo revenue — conditional-sum ratio over a "
    "fact×dim join (part broadcast at test SF; bucketed co-location is "
    "the 100TB path since part scales with SF). Both sums are exact "
    "decimals cast to double, then one multiply+divide in each engine.",
    tags=("join", "agg"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-02-01"))
    )
    p = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * s_decsum(promo) / s_decsum(disc_price)).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q18_large_volume",
    oracle=f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       {d_dbl('o.o_totalprice')} AS o_totalprice,
       {d_decsum('l.l_quantity')} AS sum_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(38,10))) > 180)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
    doc="TPC-H Q18 large-volume customer — grouped-HAVING subquery as a "
    "left-semi join on the pre-aggregated key set, then the enrich join "
    "(reference A5 duplicate-audit HAVING class, substrateetl.js:5324).",
    tags=("join", "agg", "headline"),
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,10)")).alias("__q"))
        .where(F.col("__q") > 180)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        o.join(big, o.o_orderkey == big.big_orderkey, "left_semi")
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(s_decsum(F.col("l_quantity")).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            s_date("o_orderdate").alias("order_date"),
            s_dbl(F.col("o_totalprice")).alias("o_totalprice"),
            "sum_qty",
        )
    )


@query(
    "tpch_q7_nation_volume",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(strftime(l.l_shipdate, '%Y') AS BIGINT) AS l_year,
       {d_decsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE n1.n_nationkey < 5 AND n2.n_nationkey < 5
  AND n1.n_nationkey <> n2.n_nationkey
  AND l.l_shipdate >= TIMESTAMP '1995-01-01' AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY n1.n_name, n2.n_name, CAST(strftime(l.l_shipdate, '%Y') AS BIGINT)
""",
    doc="TPC-H Q7 volume shipping — two roles of the same dim (supplier "
    "nation × customer nation) with a symmetric pair predicate; both "
    "nation sides broadcast, facts shuffle once on the join keys.",
    tags=("join", "agg"),
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("n1_key") < 5) & (F.col("n2_key") < 5) & (F.col("n1_key") != F.col("n2_key"))
    )
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year")
        )
        .agg(s_decsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "tpch_q13_order_count_distribution",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
""",
    doc="TPC-H Q13 customer order-count distribution — LEFT OUTER join "
    "with an extra join-side predicate (kept in the ON clause, not a "
    "post-filter: customers with zero qualifying orders must survive "
    "with c_count=0), then a histogram over the grouped counts.",
    tags=("join", "agg"),
)
def tpch_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
WITH pavg AS (
  SELECT l_partkey, {d_decsum('l_quantity')} / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {d_decsum('l.l_extendedprice')} / 7.0 AS avg_yearly, COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pavg  ON pavg.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.2 * pavg.avg_qty
""",
    doc="TPC-H Q17 small-quantity-order revenue — correlated AVG "
    "subquery decorrelated into a per-part aggregate joined back to the "
    "fact (the classic subquery-to-join rewrite Catalyst also performs).",
    tags=("join", "agg"),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    pavg = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (s_decsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pavg, l.l_partkey == pavg.a_partkey)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (s_decsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q19_disjunctive_predicates",
    oracle=f"""
SELECT {d_decsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
""",
    doc="TPC-H Q19 disjunctive multi-attribute predicates across the "
    "join: the OR-of-ANDs stays one join with a residual condition "
    "(Catalyst pushes the common p_partkey equi-key; per-branch "
    "single-side conjuncts are derived and pushed to both scans).",
    tags=("join", "filter"),
)
def tpch_q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    br = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.where(br).agg(
        s_decsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "tpch_q22_global_sales_opportunity",
    oracle=f"""
WITH avg_bal AS (
  SELECT {d_decsum('c_acctbal')} / COUNT(*) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey, COUNT(*) AS numcust, {d_decsum('c.c_acctbal')} AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_nationkey
""",
    doc="TPC-H Q22 global sales opportunity — scalar-subquery threshold "
    "(broadcast single-row cross join) + NOT EXISTS as a left-anti join "
    "(the reference's passive-accounts shape, docs/DEFINITIONS.md:166); "
    "the EXISTS side is restricted to urgent orders so the anti-set is "
    "non-trivial on the synthetic data.",
    tags=("join", "agg", "setop"),
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        (s_decsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("a")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(o.where(F.col("o_orderpriority") == "1-URGENT"), c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            s_decsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
SELECT CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
       {d_decsum("CASE WHEN n2.n_nationkey = 3 THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
         / {d_decsum('l.l_extendedprice * (1 - l.l_discount)')} AS mkt_share,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = n1.n_regionkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY CAST(strftime(o.o_orderdate, '%Y') AS BIGINT)
""",
    doc="TPC-H Q8 market share — share-of-total within group: one "
    "nation's revenue fraction of a region's yearly total, as a "
    "conditional-sum / total-sum ratio in a single grouped pass (no "
    "self-join against the total). Six-way star join; all dims "
    "broadcast; p_type filter dropped (part uninvolved in the share "
    "definition on the synthetic schema).",
    tags=("join", "agg"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("n2_key") == 3, disc).otherwise(F.lit(0.0))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (s_decsum(target) / s_decsum(disc)).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q9_profit",
    oracle=f"""
SELECT n.n_name AS nation,
       CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
       {d_decsum('l.l_extendedprice * (1 - l.l_discount) - p.p_retailprice * 0.1 * l.l_quantity')}
         AS sum_profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, CAST(strftime(o.o_orderdate, '%Y') AS BIGINT)
""",
    doc="TPC-H Q9 product-type profit by (supplier nation, year) — "
    "revenue minus cost across a 5-way join with a LIKE dim filter. "
    "No partsupp table in the synthetic schema, so unit cost is "
    "p_retailprice*0.1 (shape-preserving substitute). The profit "
    "expression folds into ONE per-row decimal cast before the sum, so "
    "the subtraction order is identical in both engines.",
    tags=("join", "agg"),
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(s_decsum(profit).alias("sum_profit"))
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {d_decsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
    doc="TPC-H Q15 top supplier — argmax via scalar subquery against a "
    "reused aggregate view: the revenue aggregate computes once, its "
    "max broadcasts as a single-row cross join, the equality filter "
    "picks the argmax rows (ties preserved, like the spec). Exact "
    "decimal revenue makes the equality well-defined across engines.",
    tags=("join", "agg", "argmax"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        s_decsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .crossJoin(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
SELECT DISTINCT l.l_partkey, p.p_brand, s.s_suppkey, s.s_name,
       CAST(s.s_acctbal AS DOUBLE) AS s_acctbal,
       CAST(l.l_extendedprice AS DOUBLE) AS supply_price
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_type = 'LARGE' AND p.p_size < 11
  AND l.l_extendedprice = (SELECT MIN(l2.l_extendedprice) FROM lineitem l2
                           WHERE l2.l_partkey = l.l_partkey)
""",
    doc="TPC-H Q2-shaped min-cost supplier — correlated-MIN subquery "
    "(reference: cheapest-offer lookups in the asset price pather, "
    "assetManager.js min-liquidity selection). The correlation "
    "decorrelates to a per-part window MIN: ONE hash-partition of the "
    "fact by l_partkey computes the min and filters in the same stage — "
    "no join back, no second shuffle. Ties all survive, like the spec; "
    "min over raw doubles is the same value in both engines. The "
    "supply relation is lineitem (the synthetic schema has no partsupp).",
    tags=("join", "window", "subquery"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "LARGE") & (F.col("p_size") < 11)
    )
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("l_partkey")
    return (
        l.withColumn("__min_price", F.min("l_extendedprice").over(w))
        .where(F.col("l_extendedprice") == F.col("__min_price"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "l_partkey",
            "p_brand",
            "s_suppkey",
            "s_name",
            s_dbl(F.col("s_acctbal")).alias("s_acctbal"),
            s_dbl(F.col("l_extendedprice")).alias("supply_price"),
        )
        .distinct()
    )


@query(
    "tpch_q11_important_value_share",
    oracle=f"""
WITH pv AS (
  SELECT l_partkey,
         {d_decsum('l_extendedprice * (1 - l_discount)')} AS part_value
  FROM lineitem GROUP BY l_partkey
),
thresh AS (SELECT {d_decsum('l_extendedprice * (1 - l_discount)')}
                    / COUNT(DISTINCT l_partkey) AS mean_value FROM lineitem)
SELECT pv.l_partkey, pv.part_value
FROM pv, thresh
WHERE pv.part_value > 1.2 * thresh.mean_value
""",
    doc="TPC-H Q11-shaped important-value share — grouped sums kept only "
    "when they exceed a fraction of the GLOBAL aggregate (reference: the "
    "'significant holder' cut in the asset top-N tables, query.js "
    "getAssetHolders). The global mean computes in the same single scan "
    "(partial aggs), broadcasts as a one-row cross join; the HAVING "
    "compares two exact-decimal-derived doubles so the boundary is "
    "identical across engines.",
    tags=("agg", "subquery"),
)
def tpch_q11_important_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    val = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,10)")
    pv = l.groupBy("l_partkey").agg(F.sum(val).cast("double").alias("part_value"))
    thresh = l.agg(
        (F.sum(val).cast("double") / F.count_distinct(F.col("l_partkey"))).alias("mean_value")
    )
    return (
        pv.crossJoin(F.broadcast(thresh))
        .where(F.col("part_value") > 1.2 * F.col("mean_value"))
        .select("l_partkey", "part_value")
    )


@query(
    "tpch_q16_supplier_count_by_part",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'SMALL'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500.0)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    doc="TPC-H Q16-shaped supplier count per part descriptor — "
    "COUNT(DISTINCT) per group with a NOT-IN exclusion subquery "
    "(reference: distinct-author counts with a denylist, the "
    "numTraces/distinct-signer audits). NOT IN over the non-null "
    "supplier keys is a broadcast left-anti join; the distinct count "
    "expands to a two-phase partial/final aggregate, no extra shuffle "
    "beyond the group-by.",
    tags=("agg", "setop", "subquery"),
)
def tpch_q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#3") & (F.col("p_type") != "SMALL")
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 500.0)
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query(
    "tpch_q20_excess_supply_semi",
    oracle=f"""
WITH sq AS (
  SELECT l.l_suppkey, {d_decsum('l.l_quantity')} AS sum_qty
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE '%widget%'
  GROUP BY l.l_suppkey
),
cut AS (SELECT {d_decsum('sum_qty')} / COUNT(*) AS mean_qty FROM sq)
SELECT s.s_suppkey, s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier s
WHERE s.s_suppkey IN (SELECT sq.l_suppkey FROM sq, cut
                      WHERE sq.sum_qty > 1.05 * cut.mean_qty)
""",
    doc="TPC-H Q20-shaped excess-supply semi-join — IN against an "
    "aggregated-and-thresholded subquery (reference: the 'active "
    "enough' account promotion, accounts_active feeding downstream "
    "dumps). The inner aggregate shuffles once on l_suppkey; its mean "
    "broadcasts; the outer IN is a broadcast left-semi join into the "
    "tiny supplier dim — the fact table is scanned exactly once.",
    tags=("join", "agg", "subquery"),
)
def tpch_q20_excess_supply_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    sq = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(s_decsum(F.col("l_quantity")).alias("sum_qty"))
    )
    cut = sq.agg((s_decsum(F.col("sum_qty")) / F.count(F.lit(1))).alias("mean_qty"))
    keep = sq.crossJoin(F.broadcast(cut)).where(F.col("sum_qty") > 1.05 * F.col("mean_qty"))
    return (
        s.join(keep, s.s_suppkey == keep.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", s_dbl(F.col("s_acctbal")).alias("s_acctbal"))
    )


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
FROM lineitem l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s.s_suppkey, s.s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 25
""",
    doc="TPC-H Q21-shaped sole-fault supplier — correlated EXISTS + NOT "
    "EXISTS against the same fact (reference: the xcm 'sole failed hop' "
    "attribution, xcmCleaner dest-candidate disqualification). Both "
    "correlations become shuffled joins on the high-cardinality "
    "l_orderkey (semi then anti) with the suppkey-inequality as a "
    "residual — no skewed key, no quadratic blowup; the supplier dim "
    "broadcasts and the top-25 plans as TakeOrderedAndProject.",
    tags=("join", "setop", "topk"),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    l1 = l.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = l.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = l.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(l2, (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2), "left_semi")
        .join(l3, (l1.l_orderkey == l3.o3) & (l1.l_suppkey != l3.s3), "left_anti")
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(25)
    )


@query(
    "tpch_q12_shipmode_priority",
    oracle="""
SELECT CASE WHEN (l.l_orderkey + l.l_linenumber) % 3 = 0 THEN 'MAIL' ELSE 'SHIP' END
         AS ship_mode,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE (l.l_orderkey + l.l_linenumber) % 3 < 2
  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
""",
    doc="TPC-H Q12-shaped shipmode/priority split — conditional counts "
    "over a fact-fact join with a cross-table lateness predicate "
    "(reference: the delayed-finalization audit splitting blocks by "
    "propagation tier). The synthetic tables carry no l_shipmode / "
    "l_commitdate, so mode derives deterministically from the line key "
    "(%3: MAIL/SHIP kept, RAIL filtered) and 'late' is shipdate more "
    "than 60 days after orderdate. Both CASE branches aggregate in one "
    "pass (partial->final); the mode filter and the date window prune "
    "before the join so only matching lineitem rows shuffle.",
    tags=("join", "agg"),
)
def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 3 < 2)
        & (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .withColumn(
            "ship_mode",
            F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 3 == 0, "MAIL").otherwise(
                "SHIP"
            ),
        )
        .groupBy("ship_mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )
