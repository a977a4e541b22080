"""Relational query catalog: reference-parity analogs + TPC-H-style.

Each reference operator (SURVEY.md §2) is exercised on the driver's
star-schema tables by an analogous query, per FIXTURES.md §B ("e.g.
top-10-customers-per-nation mirrors top10_by_country"). Mapping:
bands→customer, albums→orders, reviews→lineitem, country→nation.

Scale design notes (100 TB):
- Only *bounded* dimensions (nation: 25 rows, region: 5 rows) carry an
  explicit ``broadcast()`` hint. Scale-proportional tables (customer,
  supplier, part, and customer-derived marts) are left unhinted so
  AQE/CBO picks broadcast at small SF but falls back to shuffle joins
  at the 100 TB design point — a pinned hint there overrides AQE's
  size checks and OOMs the executors. Residual skew is handled by
  ``operators/skew.salted_join`` and AQE skew-join splitting.
- Aggregations group on keys with high cardinality relative to
  partitions; Catalyst plans partial aggregation map-side.
- Top-N per group uses row_number + filter, which Spark rewrites to
  WindowGroupLimit (per-partition truncation before the final sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from deathmetal_datalake_spark.operators.cleaning import lenient_cast, normalize_country
from deathmetal_datalake_spark.operators.topk import top_n_per_group
from deathmetal_datalake_spark.plans.registry import (
    davg,
    dsum,
    register,
    sql_davg,
    sql_dsum,
)
from deathmetal_datalake_spark.sources.tables import load_table


def _customer_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 analog — the ``music_catalog`` mart: fact-side entity left-joined
    to its dimension (``flows/silver.py:119-134``). customer ⟕ nation."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return customer.join(broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left").select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("cust_name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_nationkey").alias("nation_id"),
        F.col("n_name").alias("nation_name"),
    )


# --------------------------------------------------------------------------
# J1: the music_catalog mart analog (left join + projection + rename)
# --------------------------------------------------------------------------

_CATALOG_SQL = """
SELECT c_custkey AS cust_id,
       c_name AS cust_name,
       c_mktsegment AS segment,
       n_nationkey AS nation_id,
       n_name AS nation_name
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
"""


@register("j1_customer_catalog", oracle=_CATALOG_SQL)
def j1_customer_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _customer_catalog(spark, sf_dir)


# --------------------------------------------------------------------------
# J2: album_reviews analog — fact left-joined to parent (flows/silver.py:138-145)
# --------------------------------------------------------------------------


@register(
    "j2_order_lines",
    oracle="""
SELECT l_orderkey AS order_id,
       l_linenumber AS line_no,
       o_orderstatus AS status,
       l_extendedprice AS ext_price,
       o_totalprice AS total_price
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
""",
)
def j2_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "left").select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("o_orderstatus").alias("status"),
        F.col("l_extendedprice").alias("ext_price"),
        F.col("o_totalprice").alias("total_price"),
    )


# --------------------------------------------------------------------------
# J3: right join analog (main.py:54-58 — reviews ⟖ albums)
# --------------------------------------------------------------------------


@register(
    "j3_right_join_orders",
    oracle="""
SELECT o_orderkey AS order_id,
       o_orderstatus AS status,
       l_linenumber AS line_no,
       l_quantity AS qty
FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
""",
)
def j3_right_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").alias("qty"),
    )


# --------------------------------------------------------------------------
# Flagship multi-join (§3.2 / main.py:13-86): sort → rename → J1 left →
# project → J3 right → project → J5 left → project → two != filters.
# entry() runs this at sf0.001.
# --------------------------------------------------------------------------

_FLAGSHIP_SQL = """
WITH cust_orders AS (
    SELECT o_orderkey AS order_id,
           c_custkey AS cust_id,
           c_name AS cust_name,
           c_mktsegment AS segment,
           o_totalprice AS total_price
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
),
order_lines AS (
    SELECT o_orderkey AS order_id,
           l_linenumber AS line_no,
           l_extendedprice AS ext_price,
           l_returnflag AS flag
    FROM lineitem RIGHT JOIN orders ON l_orderkey = o_orderkey
)
SELECT co.order_id AS order_id,
       co.cust_id AS cust_id,
       co.cust_name AS cust_name,
       co.segment AS segment,
       co.total_price AS total_price,
       ol.line_no AS line_no,
       ol.ext_price AS ext_price,
       ol.flag AS flag
FROM cust_orders co LEFT JOIN order_lines ol ON co.order_id = ol.order_id
WHERE co.segment <> 'BUILDING' AND ol.flag <> 'R'
"""


@register("flagship_multijoin", oracle=_FLAGSHIP_SQL)
def flagship_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    cust_orders = orders.join(customer, orders.o_custkey == customer.c_custkey, "left").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("c_custkey").alias("cust_id"),
        F.col("c_name").alias("cust_name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("total_price"),
    )
    order_lines = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "right").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_extendedprice").alias("ext_price"),
        F.col("l_returnflag").alias("flag"),
    )
    full = cust_orders.join(order_lines, "order_id", "left").select(
        cust_orders.order_id.alias("order_id"),
        "cust_id",
        "cust_name",
        "segment",
        "total_price",
        "line_no",
        "ext_price",
        "flag",
    )
    # P10 string-cleanup filters (main.py:86): null-propagating `!=`.
    return full.filter(F.col("segment") != "BUILDING").filter(F.col("flag") != "R")


# --------------------------------------------------------------------------
# G1 + O2 + O5: top10_by_country analog — top 10 customers per nation by
# order count (flows/gold.py:82-94), deterministic row_number semantics.
# --------------------------------------------------------------------------

_G1_SQL = """
WITH catalog AS (
    SELECT c_custkey AS cust_id, c_name AS cust_name, n_name AS nation_name
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
),
agg AS (
    SELECT nation_name, cust_id, cust_name,
           COUNT(*) AS order_count,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_price
    FROM orders JOIN catalog ON o_custkey = cust_id
    GROUP BY nation_name, cust_id, cust_name
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY nation_name ORDER BY order_count DESC, cust_id ASC
    ) AS rn FROM agg
)
SELECT nation_name, cust_id, cust_name, order_count, avg_price
FROM ranked WHERE rn <= 10
"""


@register("g1_top10_customers_per_nation", oracle=_G1_SQL)
def g1_top10_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    catalog = _customer_catalog(spark, sf_dir)
    joined = orders.join(catalog, orders.o_custkey == catalog.cust_id, "inner")
    agg = joined.groupBy("nation_name", "cust_id", "cust_name").agg(
        F.count(F.lit(1)).alias("order_count"),
        davg("o_totalprice", "avg_price"),
    )
    top = top_n_per_group(
        agg,
        ["nation_name"],
        [F.desc("order_count"), F.asc("cust_id")],
        n=10,
    )
    # O2 display ordering (country asc, count desc) — result is compared
    # order-insensitively, the sort is for human parity with the reference.
    return top.orderBy(F.asc("nation_name"), F.desc("order_count")).select(
        "nation_name", "cust_id", "cust_name", "order_count", "avg_price"
    )


# --------------------------------------------------------------------------
# G2: band_avg_scores analog — count/avg/min/max/stddev per customer
# (flows/gold.py:102-109; std = stddev_samp, Polars ddof=1).
# --------------------------------------------------------------------------

_G2_SQL = """
SELECT c_custkey AS cust_id,
       c_name AS cust_name,
       n_name AS nation_name,
       COUNT(*) AS order_count,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       ROUND(STDDEV_SAMP(o_totalprice), 4) AS std_price
FROM orders
JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
GROUP BY cust_id, cust_name, nation_name
"""


@register("g2_customer_order_stats", oracle=_G2_SQL)
def g2_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    catalog = _customer_catalog(spark, sf_dir)
    joined = orders.join(catalog, orders.o_custkey == catalog.cust_id, "inner")
    return joined.groupBy(
        F.col("cust_id"), F.col("cust_name"), F.col("nation_name")
    ).agg(
        F.count(F.lit(1)).alias("order_count"),
        davg("o_totalprice", "avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("std_price"),
    )


# --------------------------------------------------------------------------
# G3: band_album_counts analog (flows/gold.py:126-131).
# --------------------------------------------------------------------------


@register(
    "g3_customer_counts_per_nation",
    oracle="""
SELECT n_nationkey AS nation_id, n_name AS nation_name, COUNT(*) AS customer_count
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
GROUP BY nation_id, nation_name
""",
)
def g3_customer_counts_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = customer.join(broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
    return joined.groupBy(
        F.col("n_nationkey").alias("nation_id"), F.col("n_name").alias("nation_name")
    ).agg(F.count(F.lit(1)).alias("customer_count"))


# --------------------------------------------------------------------------
# G4: brazilian_bands analog — normalize + isin filter + sort over G2
# output (flows/gold.py:115-122: lower/trim country, isin, sort desc).
# --------------------------------------------------------------------------

_G4_SQL = """
WITH stats AS (
    SELECT c_custkey AS cust_id,
           c_name AS cust_name,
           LOWER(TRIM(n_name)) AS nation_norm,
           COUNT(*) AS order_count,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    LEFT JOIN nation ON c_nationkey = n_nationkey
    GROUP BY cust_id, cust_name, nation_norm
)
SELECT cust_id, cust_name, nation_norm, order_count, avg_price
FROM stats
WHERE nation_norm IN ('nation_1', 'nation_2', 'nation_3')
ORDER BY avg_price DESC, cust_id ASC
"""


@register("g4_filtered_nation_ranking", oracle=_G4_SQL)
def g4_filtered_nation_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    catalog = _customer_catalog(spark, sf_dir)
    joined = orders.join(catalog, orders.o_custkey == catalog.cust_id, "inner")
    stats = joined.groupBy(
        "cust_id", "cust_name", normalize_country("nation_name").alias("nation_norm")
    ).agg(
        F.count(F.lit(1)).alias("order_count"),
        davg("o_totalprice", "avg_price"),
    )
    return (
        stats.filter(F.col("nation_norm").isin("nation_1", "nation_2", "nation_3"))
        .orderBy(F.desc("avg_price"), F.asc("cust_id"))
        .select("cust_id", "cust_name", "nation_norm", "order_count", "avg_price")
    )


# --------------------------------------------------------------------------
# O6: top-100 global ranking view (scripts/trino_create_tables.sql:114-121)
# with a deterministic tie-break added per SURVEY.md §7.4.
# --------------------------------------------------------------------------

_O6_SQL = """
WITH stats AS (
    SELECT c_custkey AS cust_id,
           c_name AS cust_name,
           COUNT(*) AS order_count,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY cust_id, cust_name
)
SELECT cust_id, cust_name, order_count, avg_price
FROM stats ORDER BY avg_price DESC, cust_id ASC LIMIT 100
"""


@register("o6_top100_ranking", oracle=_O6_SQL)
def o6_top100_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
    stats = joined.groupBy(
        F.col("c_custkey").alias("cust_id"), F.col("c_name").alias("cust_name")
    ).agg(
        F.count(F.lit(1)).alias("order_count"),
        davg("o_totalprice", "avg_price"),
    )
    # Spark executes orderBy+limit as TakeOrderedAndProject — no full sort.
    return stats.orderBy(F.desc("avg_price"), F.asc("cust_id")).limit(100)


# --------------------------------------------------------------------------
# P13: full-row distinct (flows/bronze.py:80 `unique()`).
# --------------------------------------------------------------------------


@register(
    "p13_distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment AS segment, c_nationkey AS nation_id FROM customer",
)
def p13_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        F.col("c_mktsegment").alias("segment"), F.col("c_nationkey").alias("nation_id")
    ).dropDuplicates()


# --------------------------------------------------------------------------
# Silver typing analog: strict/lenient casts, regex extract/replace,
# case-when, lower/trim (P6, P7, P8, P9, F1, F2, F4, F5).
# --------------------------------------------------------------------------

_TYPING_SQL = r"""
SELECT p_partkey AS part_id,
       TRY_CAST(regexp_extract(p_brand, '(\d+)', 1) AS BIGINT) AS brand_num,
       LOWER(TRIM(p_type)) AS type_norm,
       CASE WHEN p_size > 25 THEN 'large' ELSE 'small' END AS size_class,
       regexp_replace(p_name, ' ', ',', 'g') AS name_csv,
       CAST(p_size AS BIGINT) AS size_long
FROM part
"""


@register("silver_typing_part", oracle=_TYPING_SQL)
def silver_typing_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("part_id"),
        lenient_cast(F.regexp_extract("p_brand", r"(\d+)", 1), "long").alias("brand_num"),
        F.lower(F.trim(F.col("p_type"))).alias("type_norm"),
        F.when(F.col("p_size") > 25, F.lit("large")).otherwise(F.lit("small")).alias("size_class"),
        F.regexp_replace("p_name", " ", ",").alias("name_csv"),
        F.col("p_size").cast("long").alias("size_long"),
    )


# --------------------------------------------------------------------------
# TPC-H-style analytics (the volume/bench workhorses).
# --------------------------------------------------------------------------

_Q1_SQL = """
SELECT l_returnflag AS returnflag,
       l_linestatus AS linestatus,
       {sum_qty},
       {sum_base},
       {sum_disc},
       {sum_charge},
       {avg_qty},
       {avg_price},
       {avg_disc},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
GROUP BY returnflag, linestatus
""".format(
    sum_qty=sql_dsum("l_quantity", "sum_qty"),
    sum_base=sql_dsum("l_extendedprice", "sum_base_price"),
    sum_disc=sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
    sum_charge=sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge"),
    avg_qty=sql_davg("l_quantity", "avg_qty"),
    avg_price=sql_davg("l_extendedprice", "avg_price"),
    avg_disc=sql_davg("l_discount", "avg_disc"),
)


@register("tpch_q1_pricing_summary", oracle=_Q1_SQL)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-12-01 00:00:00'"))
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q3_SQL = """
SELECT o_orderkey AS order_id,
       {revenue},
       o_orderdate AS order_date,
       o_orderpriority AS priority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-03-15 00:00:00'
GROUP BY order_id, order_date, priority
ORDER BY revenue DESC, order_id ASC
LIMIT 10
""".format(revenue=sql_dsum("l_extendedprice * (1 - l_discount)", "revenue"))


@register("tpch_q3_shipping_priority", oracle=_Q3_SQL)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.expr("TIMESTAMP_NTZ '1999-03-15 00:00:00'")
    joined = (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(
            customer.filter(F.col("c_mktsegment") == "BUILDING"),
            orders.o_custkey == customer.c_custkey,
        )
    )
    return (
        joined.groupBy(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("order_id"))
        .limit(10)
        .select("order_id", "revenue", "order_date", "priority")
    )


_Q5_SQL = """
SELECT n_name AS nation_name,
       {revenue}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY nation_name
""".format(revenue=sql_dsum("l_extendedprice * (1 - l_discount)", "revenue"))


@register("tpch_q5_regional_revenue", oracle=_Q5_SQL)
def tpch_q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dates_ok = (
        F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'")
    ) & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    # Dim side first: nation ⨝ region('ASIA') is tiny — broadcast it onto
    # customer; the filtered customer set scales with SF, so its join onto
    # the fact is left to AQE (broadcast at small SF, shuffle at scale).
    asia_nations = nation.join(
        broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    )
    asia_customers = customer.join(
        broadcast(asia_nations), customer.c_nationkey == asia_nations.n_nationkey
    )
    joined = (
        li.join(orders.filter(dates_ok), li.l_orderkey == orders.o_orderkey)
        .join(asia_customers, orders.o_custkey == asia_customers.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
    )
    return joined.groupBy(F.col("n_name").alias("nation_name")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )


_Q6_SQL = """
SELECT {revenue}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""".format(revenue=sql_dsum("l_extendedprice * l_discount", "revenue"))


@register("tpch_q6_forecast_revenue", oracle=_Q6_SQL)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


# --------------------------------------------------------------------------
# Semi / anti joins and set operations (extension surface beyond the
# reference's equi-joins — SURVEY.md §7.3 M4).
# --------------------------------------------------------------------------


@register(
    "j_semi_customers_with_open_orders",
    oracle="""
SELECT c_custkey AS cust_id, c_name AS cust_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
""",
)
def j_semi_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    open_orders = orders.filter(F.col("o_orderstatus") == "O")
    return customer.join(
        open_orders, customer.c_custkey == open_orders.o_custkey, "left_semi"
    ).select(F.col("c_custkey").alias("cust_id"), F.col("c_name").alias("cust_name"))


@register(
    "j_anti_customers_without_orders",
    oracle="""
SELECT c_custkey AS cust_id, c_name AS cust_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def j_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("cust_id"), F.col("c_name").alias("cust_name")
    )


# The parity query above is truthfully empty on the driver's data (every
# customer has at least one order), which makes its hash check trivial;
# this variant anti-joins against *recent* orders so the left_anti path
# is verified on a non-empty result (615 rows at sf0.01).
@register(
    "j_anti_customers_without_recent_orders",
    oracle="""
SELECT c_custkey AS cust_id, c_name AS cust_name
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
)
""",
)
def j_anti_customers_without_recent_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.filter(
        F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '2001-01-01 00:00:00'")
    )
    return customer.join(recent, customer.c_custkey == recent.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("cust_id"), F.col("c_name").alias("cust_name")
    )


@register(
    "setop_building_with_open_orders",
    oracle="""
SELECT c_custkey AS cust_id FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS cust_id FROM orders WHERE o_orderstatus = 'O'
""",
)
def setop_building_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("cust_id")
    )
    open_cust = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("cust_id")
    )
    return building.intersect(open_cust)


@register(
    "setop_machinery_minus_f_orders",
    oracle="""
SELECT c_custkey AS cust_id FROM customer WHERE c_mktsegment = 'MACHINERY'
EXCEPT
SELECT o_custkey AS cust_id FROM orders WHERE o_orderstatus = 'F'
""",
)
def setop_machinery_minus_f_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    machinery = customer.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("cust_id")
    )
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("cust_id")
    )
    return machinery.exceptAll(f_cust).dropDuplicates()


# --------------------------------------------------------------------------
# Rollup (multi-level aggregation — extension beyond reference's flat
# group-bys).
# --------------------------------------------------------------------------

_ROLLUP_SQL = """
SELECT o_orderstatus AS status,
       o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       {total}
FROM orders
GROUP BY ROLLUP (status, priority)
""".format(total=sql_dsum("o_totalprice", "total_price"))


@register("rollup_orders_status_priority", oracle=_ROLLUP_SQL)
def rollup_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
        .rollup("status", "priority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


# --------------------------------------------------------------------------
# Window functions beyond row_number: running totals and lag deltas.
# --------------------------------------------------------------------------

_RUNNING_SQL = """
SELECT o_custkey AS cust_id,
       o_orderkey AS order_id,
       o_orderdate AS order_date,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE), 4) AS running_total
FROM orders
"""


@register("window_running_total", oracle=_RUNNING_SQL)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").alias("order_date"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"), 4).alias(
            "running_total"
        ),
    )


# ---------------------------------------------------------------------------
# DISTINCT ON — the Postgres idiom (SELECT DISTINCT ON (key) ... ORDER
# BY key, sort) Spark lacks as syntax: latest order per customer,
# expressed as the canonical row_number-rank-1 rewrite. Plan: one
# shuffle on the key; the rank filter compiles to WindowGroupLimit, so
# each partition keeps one row per customer before the exchange.
# ---------------------------------------------------------------------------

_DISTINCT_ON_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC
           ) AS rn
    FROM orders
) WHERE rn = 1
"""


@register("distinct_on_latest_order", oracle=_DISTINCT_ON_SQL)
def distinct_on_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Year-over-year revenue growth — the finance-dashboard staple: yearly
# exact-decimal revenue with the previous year's ratio attached via a
# lag window. The window runs over the YEAR frame (bounded rows at any
# scale: one per year), so the only data-proportional work is the
# map-side-combinable yearly aggregate; the growth ratio divides two
# identical exact-decimal doubles, so the rounded value is
# engine-deterministic.
# ---------------------------------------------------------------------------

_YOY_SQL = f"""
WITH yearly AS (
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")}
    FROM orders GROUP BY 1
)
SELECT order_year,
       CAST(n_orders AS BIGINT) AS n_orders,
       revenue,
       ROUND(revenue / LAG(revenue) OVER (ORDER BY order_year), 6)
           AS yoy_ratio
FROM yearly
ORDER BY order_year
"""


@register("orders_yoy_revenue_growth", oracle=_YOY_SQL)
def orders_yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )
    w = Window.orderBy("order_year")
    return yearly.select(
        "order_year",
        "n_orders",
        "revenue",
        F.round(F.col("revenue") / F.lag("revenue").over(w), 6).alias(
            "yoy_ratio"
        ),
    ).orderBy("order_year")


# ---------------------------------------------------------------------------
# Pareto revenue concentration (round 9) — the 80/20 audit every
# revenue owner asks for: customers ranked by exact decimal revenue,
# cut into NTILE(10) deciles, each decile reporting its revenue share
# and the CUMULATIVE share (the Lorenz curve's ten points). Both the
# rank and the running revenue sum come from the distributed two-phase
# ordering (operators/ordering.two_phase_order — value-derived buckets,
# broadcast offsets), so no stage ever holds the customer frame in one
# task; the cumulative share at a decile boundary is just MAX(cum_rev)
# inside the decile (the running sum is monotone along the rank).
# Decimal arithmetic end-to-end; shares divide as doubles after the
# exact sums (correctly-rounded single division in both engines).
# ---------------------------------------------------------------------------

_PARETO_SQL = """
WITH per_cust AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, rev,
           NTILE(10) OVER (ORDER BY rev DESC, o_custkey ASC) AS decile,
           SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                          ROWS UNBOUNDED PRECEDING) AS cum_rev
    FROM per_cust
),
tot AS (SELECT SUM(rev) AS total FROM per_cust)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS decile_revenue,
       ROUND(CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE)
             / CAST(CAST((SELECT total FROM tot) AS VARCHAR) AS DOUBLE), 6)
           AS revenue_share,
       ROUND(CAST(CAST(MAX(cum_rev) AS VARCHAR) AS DOUBLE)
             / CAST(CAST((SELECT total FROM tot) AS VARCHAR) AS DOUBLE), 6)
           AS cum_revenue_share
FROM ranked
GROUP BY decile
ORDER BY decile
"""


@register("orders_pareto_concentration", oracle=_PARETO_SQL)
def orders_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deathmetal_datalake_spark.operators.ordering import (
        ntile_from_rank,
        two_phase_order,
    )
    from deathmetal_datalake_spark.plans.registry import session_cache

    orders = load_table(spark, sf_dir, "orders")
    per_cust = session_cache(
        orders.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev")
        )
    )
    ranked = two_phase_order(
        per_cust,
        [F.desc("rev"), F.asc("o_custkey")],
        F.col("rev"),
        key_desc=True,
        rank_col="rnk",
        cumsum=("rev", "cum_rev"),
        n_total_col="n_cust",
        sub_key=F.col("o_custkey"),
    ).withColumn(
        "decile", ntile_from_rank(F.col("rnk"), F.col("n_cust"), 10)
    )
    tot = per_cust.agg(F.sum("rev").cast("double").alias("total"))
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev").cast("double").alias("decile_revenue"),
            F.max("cum_rev").cast("double").alias("cum_at_decile"),
        )
        .crossJoin(broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_customers",
            "decile_revenue",
            F.round(F.col("decile_revenue") / F.col("total"), 6).alias(
                "revenue_share"
            ),
            F.round(F.col("cum_at_decile") / F.col("total"), 6).alias(
                "cum_revenue_share"
            ),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Market-basket pair lift (round 9) — the classic co-occurrence audit
# over lineitem: for part pairs bought together in one order, support
# and LIFT (pair frequency over the independence expectation). Pair
# generation is a self-join WITHIN the order key (p1 < p2 dedups the
# unordered pair) — each order holds a handful of lineitems, so the
# fan-out is Σ k_i², bounded by the max basket size, never corpus².
# Lift is a ratio of exact integer counts over the order total —
# single correctly-rounded double division in both engines. Top-20 by
# lift with full tie-break; minimum pair support 3 keeps the tail from
# flooding ties.
# ---------------------------------------------------------------------------

_BASKET_SQL = """
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem),
part_freq AS (
    SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY l_partkey
),
pairs AS (
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS together
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
scored AS (
    SELECT p.p1, p.p2, p.together,
           f1.cnt AS cnt1, f2.cnt AS cnt2,
           ROUND(CAST(p.together AS DOUBLE) * (SELECT n FROM n_orders)
                 / (CAST(f1.cnt AS DOUBLE) * f2.cnt), 6) AS lift
    FROM pairs p
    JOIN part_freq f1 ON f1.l_partkey = p.p1
    JOIN part_freq f2 ON f2.l_partkey = p.p2
    WHERE p.together >= 3
)
SELECT p1, p2,
       CAST(together AS BIGINT) AS together,
       CAST(cnt1 AS BIGINT) AS cnt1,
       CAST(cnt2 AS BIGINT) AS cnt2,
       lift
FROM scored
ORDER BY lift DESC, p1 ASC, p2 ASC
LIMIT 20
"""


@register("lineitem_market_basket_lift", oracle=_BASKET_SQL)
def lineitem_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deathmetal_datalake_spark.plans.registry import session_cache

    li = load_table(spark, sf_dir, "lineitem")
    items = session_cache(li.select("l_orderkey", "l_partkey").distinct())
    n_orders = items.select("l_orderkey").distinct().count()  # one scalar
    part_freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 3)
    )
    f1 = part_freq.select(
        F.col("l_partkey").alias("p1"), F.col("cnt").alias("cnt1")
    )
    f2 = part_freq.select(
        F.col("l_partkey").alias("p2"), F.col("cnt").alias("cnt2")
    )
    scored = (
        pairs.join(f1, "p1")
        .join(f2, "p2")
        .select(
            "p1",
            "p2",
            F.col("together").cast("long").alias("together"),
            F.col("cnt1").cast("long").alias("cnt1"),
            F.col("cnt2").cast("long").alias("cnt2"),
            F.round(
                F.col("together").cast("double")
                * F.lit(n_orders)
                / (F.col("cnt1").cast("double") * F.col("cnt2")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("p1"), F.asc("p2")
    ).limit(20)


# ---------------------------------------------------------------------------
# Repeat-purchase interval profile (round 9) — the retention
# distribution behind RFM's recency score: per customer, the gaps in
# days between CONSECUTIVE orders (a lag window PARTITIONED by
# customer — never global), rolled into floor-log2 day buckets with
# exact integer stats (ln() stays banned; LENGTH(bin(x)) − 1 is the
# engine-portable floor-log2, gap 0 pinned to bucket −1 for same-day
# repeat orders).
# ---------------------------------------------------------------------------

_REPEAT_INTERVAL_SQL = """
WITH gaps AS (
    SELECT o_custkey,
           date_diff('day',
                     CAST(lag(o_orderdate) OVER w AS TIMESTAMP),
                     CAST(o_orderdate AS TIMESTAMP)) AS gap_days
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
buckets AS (
    SELECT CASE WHEN gap_days = 0 THEN -1
                ELSE LENGTH(bin(gap_days)) - 1 END AS log2_gap_bucket,
           gap_days
    FROM gaps WHERE gap_days IS NOT NULL
)
SELECT CAST(log2_gap_bucket AS BIGINT) AS log2_gap_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_days) AS BIGINT) AS min_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_days,
       ROUND(CAST(SUM(gap_days) AS DOUBLE) / COUNT(*), 6) AS mean_days
FROM buckets
GROUP BY 1
ORDER BY 1
"""


@register("orders_repeat_interval_profile", oracle=_REPEAT_INTERVAL_SQL)
def orders_repeat_interval_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    bucket = F.when(F.col("gap_days") == 0, F.lit(-1)).otherwise(
        F.length(F.bin(F.col("gap_days"))) - 1
    )
    return (
        gaps.groupBy(bucket.cast("long").alias("log2_gap_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_days").cast("long").alias("min_days"),
            F.max("gap_days").cast("long").alias("max_days"),
            F.round(F.sum("gap_days").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_days"
            ),
        )
        .orderBy("log2_gap_bucket")
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve (round-9 continuation) — the finance-grade twin of
# events_cohort_retention: customers grouped by FIRST-ORDER month,
# revenue tracked by months-since-acquisition, cumulated into the
# lifetime-value-per-customer curve that acquisition spend is judged
# against. Month index is INTEGER arithmetic (year·12 + month), the
# per-cell and cumulative revenue stay in DECIMAL(18,6) (windowed sums
# of decimals are associative — partition-order-free in both engines;
# Spark widens to DECIMAL(28,6), DuckDB to DECIMAL(38,6), both exact),
# and LTV divides by the FIXED acquisition-cohort size, not by
# currently-active customers — the classic cohort-table mistake this
# query exists to avoid. Window is PARTITIONED by cohort; the frame
# per cohort is bounded by the corpus month span.
# ---------------------------------------------------------------------------

_COHORT_LTV_SQL = """
WITH first_order AS (
    SELECT o_custkey,
           CAST(date_trunc('month', MIN(CAST(o_orderdate AS TIMESTAMP)))
                AS DATE) AS cohort_month
    FROM orders GROUP BY 1
),
sized AS (
    SELECT cohort_month, COUNT(*) AS cohort_size
    FROM first_order GROUP BY 1
),
cells AS (
    SELECT f.cohort_month,
           (YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate))
           - (YEAR(f.cohort_month) * 12 + MONTH(f.cohort_month)) AS month_k,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS dec_rev,
           COUNT(DISTINCT o.o_custkey) AS n_active
    FROM orders o JOIN first_order f USING (o_custkey)
    GROUP BY 1, 2
),
cum AS (
    SELECT cohort_month, month_k, n_active, dec_rev,
           SUM(dec_rev) OVER (PARTITION BY cohort_month ORDER BY month_k
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS dec_cum
    FROM cells
)
SELECT c.cohort_month,
       CAST(c.month_k AS BIGINT) AS month_k,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(c.n_active AS BIGINT) AS n_active_customers,
       CAST(CAST(c.dec_rev AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(CAST(c.dec_cum AS VARCHAR) AS DOUBLE) AS cum_revenue,
       ROUND(CAST(CAST(c.dec_cum AS VARCHAR) AS DOUBLE) / s.cohort_size, 6)
           AS ltv_per_customer
FROM cum c JOIN sized s USING (cohort_month)
ORDER BY cohort_month, month_k
"""


@register("orders_cohort_ltv", oracle=_COHORT_LTV_SQL)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    first = orders.groupBy("o_custkey").agg(
        F.trunc(F.to_date(F.min("o_orderdate")), "month").alias("cohort_month")
    )
    sized = first.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    midx = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    cells = (
        orders.join(first, "o_custkey")
        .groupBy(
            "cohort_month",
            (midx(F.col("o_orderdate")) - midx(F.col("cohort_month"))).alias(
                "month_k"
            ),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("dec_rev"),
            F.countDistinct("o_custkey").cast("long").alias("n_active"),
        )
    )
    w = Window.partitionBy("cohort_month").orderBy("month_k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.withColumn("dec_cum", F.sum("dec_rev").over(w))
    return (
        cum.join(broadcast(sized), "cohort_month")
        .select(
            "cohort_month",
            F.col("month_k").cast("long"),
            "cohort_size",
            F.col("n_active").alias("n_active_customers"),
            F.col("dec_rev").cast("string").cast("double").alias("revenue"),
            F.col("dec_cum").cast("string").cast("double").alias("cum_revenue"),
            F.round(
                F.col("dec_cum").cast("string").cast("double")
                / F.col("cohort_size"),
                6,
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_month", "month_k")
    )


# ---------------------------------------------------------------------------
# Order→ship lag quantiles (round-9 continuation) — the fulfillment
# SLA report: per order priority, exact interpolated p50/p90/max of
# the days between order placement and line shipment. Lag is an
# INTEGER day count with a spec-bounded domain (0..~125 days), so the
# per-(group, value) histogram form (grouped_quantiles_lowcard) is the
# right selection machinery: fully lazy, frames bounded by the value
# DOMAIN, no per-group buffers, no plan-time actions. Urgent orders
# shipping slower than low-priority ones is the inversion this audit
# exists to catch.
# ---------------------------------------------------------------------------

_SHIPLAG_SQL = """
WITH lags AS (
    SELECT o.o_orderpriority AS priority,
           date_diff('day', CAST(o.o_orderdate AS TIMESTAMP),
                     CAST(l.l_shipdate AS TIMESTAMP)) AS lag_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(quantile_cont(lag_days, 0.50), 6) AS p50_days,
       ROUND(quantile_cont(lag_days, 0.90), 6) AS p90_days,
       CAST(MAX(lag_days) AS BIGINT) AS max_days
FROM lags
GROUP BY priority
ORDER BY priority
"""


@register("orders_ship_lag_quantiles", oracle=_SHIPLAG_SQL)
def orders_ship_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deathmetal_datalake_spark.operators.ordering import (
        grouped_quantiles_lowcard,
    )
    from deathmetal_datalake_spark.plans.registry import session_cache

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lags = session_cache(
        li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("lag_days"),
        )
    )
    qs = grouped_quantiles_lowcard(
        lags, "priority", F.col("lag_days"), [0.50, 0.90]
    )
    piv = qs.groupBy("priority").agg(
        F.round(F.max(F.when(F.col("frac") == 0.50, F.col("q"))), 6).alias(
            "p50_days"
        ),
        F.round(F.max(F.when(F.col("frac") == 0.90, F.col("q"))), 6).alias(
            "p90_days"
        ),
    )
    stats = lags.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.max("lag_days").cast("long").alias("max_days"),
    )
    return (
        stats.join(piv, "priority")
        .select("priority", "n_lines", "p50_days", "p90_days", "max_days")
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Discount→quantity OLS (round-9 continuation) — the closed-form
# simple regression every pricing team runs: per part brand, the OLS
# slope/intercept/R² of line quantity on discount (does discounting
# move volume, and where). Everything is the textbook moment form
# slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²): the moment sums accumulate in
# DECIMAL (x, y are 2-dp data, so products are 4-dp-exact terms) and
# cross to DOUBLE via the VARCHAR round-trip; the remaining ops are
# single IEEE multiplies/subtractions/divides — deterministic in both
# engines with no rounding tricks before the display ROUND. NULLIF
# guards zero-variance brands (every line same discount). R² needs no
# sqrt: it is the squared covariance over the variance product.
# ---------------------------------------------------------------------------

def _sql_msum(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(25,8))) AS VARCHAR) AS DOUBLE)"
    )


_OLS_SQL = f"""
WITH pairs AS (
    SELECT p.p_brand AS brand, l.l_discount AS x, l.l_quantity AS y
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
mom AS (
    SELECT brand,
           COUNT(*) AS n,
           {_sql_msum("x")} AS sx,
           {_sql_msum("y")} AS sy,
           {_sql_msum("x * x")} AS sxx,
           {_sql_msum("x * y")} AS sxy,
           {_sql_msum("y * y")} AS syy
    FROM pairs GROUP BY brand
)
SELECT brand,
       CAST(n AS BIGINT) AS n_lines,
       ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx)
             / n, 6) AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) AS r2
FROM mom
ORDER BY brand
"""


def _msum(col):
    return F.sum(col.cast("decimal(25,8)")).cast("string").cast("double")


@register("lineitem_discount_qty_ols", oracle=_OLS_SQL)
def lineitem_discount_qty_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_discount", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pairs = li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.col("l_discount").alias("x"),
        F.col("l_quantity").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    mom = pairs.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        _msum(x).alias("sx"),
        _msum(y).alias("sy"),
        _msum(x * x).alias("sxx"),
        _msum(x * y).alias("sxy"),
        _msum(y * y).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    cov = n * sxy - sx * sy
    varx = F.nullif(n * sxx - sx * sx, F.lit(0.0))
    vary = F.nullif(n * syy - sy * sy, F.lit(0.0))
    slope = cov / varx
    return mom.select(
        "brand",
        n.cast("long").alias("n_lines"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(cov * cov / F.nullif(varx * vary, F.lit(0.0)), 6).alias("r2"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# Supplier-concentration HHI (round-9 continuation) — the
# Herfindahl–Hirschman index per supplier nation: Σ (revenue share)²
# over that nation's suppliers, the standard concentration metric
# (10000 ≡ monopoly when shares are percentages; here raw 0–1 scale).
# A nation whose parts flow through one dominant supplier is a supply
# risk no mean/top-1 stat expresses as directly. Shares are ratios of
# DECIMAL revenue sums (exact), each share² is one IEEE multiply, and
# the per-nation Σ share² re-enters DECIMAL so the final sum is
# partition-order-free.
# ---------------------------------------------------------------------------

_HHI_SQL = """
WITH sup_rev AS (
    SELECT s.s_nationkey, l.l_suppkey,
           SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS dec_rev
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
nat AS (
    SELECT s_nationkey, SUM(dec_rev) AS dec_tot, COUNT(*) AS n_suppliers
    FROM sup_rev GROUP BY 1
),
shares AS (
    SELECT r.s_nationkey, n.n_suppliers,
           CAST(CAST(r.dec_rev AS VARCHAR) AS DOUBLE)
           / CAST(CAST(n.dec_tot AS VARCHAR) AS DOUBLE) AS share
    FROM sup_rev r JOIN nat n USING (s_nationkey)
)
SELECT nn.n_name AS nation,
       CAST(MAX(s.n_suppliers) AS BIGINT) AS n_suppliers,
       ROUND(CAST(CAST(SUM(CAST(s.share * s.share AS DECIMAL(25,12)))
                       AS VARCHAR) AS DOUBLE), 6) AS hhi,
       ROUND(MAX(s.share), 6) AS top_share
FROM shares s JOIN nation nn ON s.s_nationkey = nn.n_nationkey
GROUP BY nn.n_name
ORDER BY nation
"""


@register("supplier_revenue_hhi", oracle=_HHI_SQL)
def supplier_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    sup_rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias(
                "dec_rev"
            )
        )
    )
    nat = sup_rev.groupBy("s_nationkey").agg(
        F.sum("dec_rev").alias("dec_tot"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    shares = sup_rev.join(nat, "s_nationkey").select(
        "s_nationkey",
        "n_suppliers",
        (
            F.col("dec_rev").cast("string").cast("double")
            / F.col("dec_tot").cast("string").cast("double")
        ).alias("share"),
    )
    return (
        shares.join(
            broadcast(nation), shares.s_nationkey == nation.n_nationkey
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("n_suppliers").cast("long").alias("n_suppliers"),
            F.round(
                F.sum((F.col("share") * F.col("share")).cast("decimal(25,12)"))
                .cast("string")
                .cast("double"),
                6,
            ).alias("hhi"),
            F.round(F.max("share"), 6).alias("top_share"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# ABC inventory classification (round-9 continuation) — the operations
# classic: customers ranked by revenue, class A = the prefix covering
# 80% of revenue, B = the next 15%, C = the tail. Exactly the
# distributed running-sum machinery of orders_pareto_concentration
# (two-phase order, DECIMAL cumulative revenue, sub_key tie-split),
# folded to the 3-row class summary. A customer is in A iff the
# cumulative share STRICTLY BEFORE them is < 0.80 (the boundary
# customer lands in the class it completes) — both engines compute
# that from the same exact decimal cumsum, so the cut is
# deterministic.
# ---------------------------------------------------------------------------

_ABC_SQL = """
WITH per_cust AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS dec_rev
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT o_custkey, dec_rev,
           SUM(dec_rev) OVER (ORDER BY dec_rev DESC, o_custkey ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS dec_cum,
           SUM(dec_rev) OVER () AS dec_tot
    FROM per_cust
),
classed AS (
    SELECT o_custkey, dec_rev,
           CASE WHEN CAST(CAST(dec_cum - dec_rev AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(dec_tot AS VARCHAR) AS DOUBLE) < 0.80
                THEN 'A'
                WHEN CAST(CAST(dec_cum - dec_rev AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(dec_tot AS VARCHAR) AS DOUBLE) < 0.95
                THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(dec_rev) AS VARCHAR) AS DOUBLE) AS revenue,
       ROUND(CAST(CAST(SUM(dec_rev) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(MAX(t.dec_tot) AS VARCHAR) AS DOUBLE), 6)
           AS revenue_share
FROM classed, (SELECT SUM(dec_rev) AS dec_tot FROM per_cust) t
GROUP BY abc_class
ORDER BY abc_class
"""


@register("orders_abc_classification", oracle=_ABC_SQL)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deathmetal_datalake_spark.operators.ordering import two_phase_order
    from deathmetal_datalake_spark.plans.registry import session_cache

    per_cust = session_cache(
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("dec_rev")
        )
    )
    ranked = two_phase_order(
        per_cust,
        [F.desc("dec_rev"), F.asc("o_custkey")],
        F.col("dec_rev"),
        key_desc=True,
        cumsum=("dec_rev", "dec_cum"),
        sub_key=F.col("o_custkey"),
    )
    tot = per_cust.agg(F.sum("dec_rev").alias("dec_tot"))
    before = (
        (F.col("dec_cum") - F.col("dec_rev")).cast("string").cast("double")
        / F.col("dec_tot").cast("string").cast("double")
    )
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "dec_rev",
        "dec_tot",
        F.when(before < 0.80, F.lit("A"))
        .when(before < 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("dec_rev").cast("string").cast("double").alias("revenue"),
            F.round(
                F.sum("dec_rev").cast("string").cast("double")
                / F.max("dec_tot").cast("string").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust weekly revenue trend (round 10) — the
# outlier-resistant alternative to the OLS slope the discount-quantity
# regression uses: the MEDIAN over all pairwise slopes
# (rev_j - rev_i) / (week_j - week_i) ignores up to ~29% contaminated
# weeks. The weekly frame is time-range BOUNDED, so the O(weeks^2) pair
# expansion is a bounded nonequi self-join (whitelisted class), never
# corpus-quadratic (weekly, not daily: the exact distributed median
# over days^2/2 = 2.9M pair slopes was measured at ~17 s against
# DuckDB's 0.2 — same statistics, 50x fewer pairs; week number is the
# engine-independent integer dn DIV 7, not date_trunc, whose week-start
# conventions differ); weekly revenues are exact decimal sums crossed to
# double via the VARCHAR parse, so every slope is one identical IEEE
# divide on both engines and the medians agree bit-for-bit. The median
# itself runs through exact_global_quantiles (distributed selection) —
# Spark's percentile() aggregate would buffer all ~days^2/2 slopes in
# one reducer (still the right form: pairs regrow quadratically with
# the time span). Intercept = median residual at the fitted slope.
# ---------------------------------------------------------------------------

_THEILSEN_SQL = f"""
WITH weekly AS (
    SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) // 7
               AS wn,
           {sql_dsum("o_totalprice", "rev")}
    FROM orders
    GROUP BY 1
),
pairs AS (
    SELECT (b.rev - a.rev) / CAST(b.wn - a.wn AS DOUBLE) AS slope
    FROM weekly a JOIN weekly b ON b.wn > a.wn
),
sl AS (SELECT MEDIAN(slope) AS slope_med FROM pairs),
resid AS (
    SELECT MEDIAN(weekly.rev - sl.slope_med * weekly.wn) AS icept
    FROM weekly, sl
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM weekly) AS n_weeks,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs,
       ROUND(sl.slope_med, 6) AS slope_per_week,
       ROUND(resid.icept, 6) AS intercept
FROM sl, resid
"""


@register("orders_theil_sen_weekly_trend", oracle=_THEILSEN_SQL)
def orders_theil_sen_weekly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deathmetal_datalake_spark.plans.registry import session_cache

    orders = load_table(spark, sf_dir, "orders")
    weekly = session_cache(
        orders.select(
            F.floor(
                F.datediff(
                    F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
                )
                / 7
            )
            .cast("long")
            .alias("wn"),
            "o_totalprice",
        )
        .groupBy("wn")
        .agg(dsum("o_totalprice", "rev"))
    )
    a = weekly.select(F.col("wn").alias("wna"), F.col("rev").alias("reva"))
    b = weekly.select(F.col("wn").alias("wnb"), F.col("rev").alias("revb"))
    pairs = a.join(b, F.col("wnb") > F.col("wna")).select(
        (
            (F.col("revb") - F.col("reva"))
            / (F.col("wnb") - F.col("wna")).cast("double")
        ).alias("slope")
    )
    pairs = session_cache(pairs)
    # percentile() buffers the whole frame in ONE aggregation buffer —
    # banned on data-proportional frames (the exact_global_quantiles
    # rationale) but correct HERE: the pair frame is time-range bounded
    # (weeks^2), never corpus-proportional, and the aggregate form is
    # ~8x cheaper than distributed selection on a frame this shape
    # (measured: two exact_global_quantiles passes cost ~8 s warm at
    # sf0.01 vs ~1 s for the aggregates). The 1-row results are
    # session_cached so the intercept and final assembly never
    # re-evaluate the pair join.
    slope_med = session_cache(
        pairs.agg(F.expr("percentile(slope, 0.5)").alias("slope_med"))
    )
    resid = (
        weekly.crossJoin(broadcast(slope_med))
        .select(
            (F.col("rev") - F.col("slope_med") * F.col("wn")).alias("r"),
            "slope_med",
        )
    )
    icept = session_cache(resid.agg(F.expr("percentile(r, 0.5)").alias("icept")))
    counts = weekly.agg(F.count(F.lit(1)).cast("long").alias("n_weeks"))
    npairs = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return (
        counts.crossJoin(broadcast(npairs))
        .crossJoin(broadcast(slope_med))
        .crossJoin(broadcast(icept))
        .select(
            "n_weeks",
            "n_pairs",
            F.round(F.col("slope_med"), 6).alias("slope_per_week"),
            F.round(F.col("icept"), 6).alias("intercept"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test on weekly revenue (round 11) — the TEST
# companion to the Theil-Sen estimator directly above: Theil-Sen
# reports HOW steep the robust trend is, Mann-Kendall reports whether a
# monotone trend exists at all, from the same bounded weekly frame.
# S = sum of sign(rev_j - rev_i) over week pairs is an exact integer
# (revenues are identical IEEE doubles on both engines via the decimal
# sum + VARCHAR crossing, so every sign agrees); the tie-corrected
# variance is kept as the INTEGER var18 = n(n-1)(2n+5) - sum t(t-1)(2t+5)
# (= 18*Var(S)), and the continuity-corrected z uses only those exact
# integers. 100 TB: the O(weeks^2) pair join is over the time-range
# bounded weekly frame (the whitelisted Theil-Sen class), never
# corpus-quadratic.
# ---------------------------------------------------------------------------

_MANNKENDALL_SQL = f"""
WITH weekly AS (
    SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) // 7
               AS wn,
           {sql_dsum("o_totalprice", "rev")}
    FROM orders
    GROUP BY 1
),
s AS (
    SELECT SUM(CASE WHEN b.rev > a.rev THEN 1
                    WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS s_stat,
           COUNT(*) AS n_pairs
    FROM weekly a JOIN weekly b ON b.wn > a.wn
),
t AS (SELECT COUNT(*) AS n FROM weekly),
ties AS (
    SELECT COALESCE(SUM(c * (c - 1) * (2 * c + 5)), 0) AS tt
    FROM (SELECT COUNT(*) AS c FROM weekly GROUP BY rev) g WHERE c > 1
),
v AS (
    SELECT CAST(t.n * (t.n - 1) * (2 * t.n + 5) - ties.tt AS BIGINT) AS var18
    FROM t, ties
)
SELECT CAST(t.n AS BIGINT) AS n_weeks,
       CAST(s.n_pairs AS BIGINT) AS n_pairs,
       CAST(s.s_stat AS BIGINT) AS s_stat,
       v.var18,
       CASE WHEN v.var18 <= 0 OR s.s_stat IS NULL THEN NULL
            WHEN s.s_stat > 0 THEN
              ROUND((CAST(s.s_stat AS DOUBLE) - 1.0)
                    / SQRT(CAST(v.var18 AS DOUBLE) / 18.0), 6)
            WHEN s.s_stat < 0 THEN
              ROUND((CAST(s.s_stat AS DOUBLE) + 1.0)
                    / SQRT(CAST(v.var18 AS DOUBLE) / 18.0), 6)
            ELSE 0.0 END AS z_score
FROM t, s, v
"""


@register("orders_mann_kendall_trend", oracle=_MANNKENDALL_SQL)
def orders_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deathmetal_datalake_spark.plans.registry import session_cache

    orders = load_table(spark, sf_dir, "orders")
    weekly = session_cache(
        orders.select(
            F.expr(
                "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)"
                " div 7"
            ).alias("wn"),
            "o_totalprice",
        )
        .groupBy("wn")
        .agg(dsum("o_totalprice", "rev"))
    )
    a = weekly.select(F.col("wn").alias("wa"), F.col("rev").alias("ra"))
    b = weekly.select(F.col("wn").alias("wb"), F.col("rev").alias("rb"))
    s = (
        a.join(b, F.col("wb") > F.col("wa"))  # bounded weekly frame
        .agg(
            F.sum(
                F.when(F.col("rb") > F.col("ra"), 1)
                .when(F.col("rb") < F.col("ra"), -1)
                .otherwise(0)
            ).alias("s_stat"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    t = weekly.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        weekly.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
                ),
                F.lit(0).cast("long"),
            ).alias("tt")
        )
    )
    n = F.col("n")
    var18 = (n * (n - 1) * (2 * n + 5) - F.col("tt")).cast("long")
    sd = F.col("s_stat").cast("double")
    root = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    return (
        t.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .select(
            n.cast("long").alias("n_weeks"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("s_stat").cast("long").alias("s_stat"),
            var18.alias("var18"),
        )
        .select(
            "n_weeks",
            "n_pairs",
            "s_stat",
            "var18",
            F.when(
                (F.col("var18") <= 0) | F.col("s_stat").isNull(),
                F.lit(None).cast("double"),
            )
            .when(F.col("s_stat") > 0, F.round((sd - 1.0) / root, 6))
            .when(F.col("s_stat") < 0, F.round((sd + 1.0) / root, 6))
            .otherwise(F.lit(0.0))
            .alias("z_score"),
        )
    )


# ---------------------------------------------------------------------------
# Interrupted time series on weekly revenue (round 11) — the causal
# reading of the trend family: split the weekly series at its midpoint
# week and fit one OLS line per era; the LEVEL SHIFT is the gap between
# the post-era intercept and the pre-era line's prediction at the
# boundary, the SLOPE CHANGE is the slope delta — the standard
# segmented-regression pair. Exactness: x is the integer week number,
# y the exact decimal weekly revenue; per-era moments (n, Sx, Sy, Sxy,
# Sxx) accumulate in DECIMAL and cross to identical doubles via the
# VARCHAR parse, so slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) is one
# identical IEEE expression on both engines. 100 TB: the weekly frame
# is time-range bounded; moments are one hash aggregate per era.
# ---------------------------------------------------------------------------

_ITS_SQL = f"""
WITH weekly AS (
    SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) // 7
               AS wn,
           {sql_dsum("o_totalprice", "rev")}
    FROM orders
    GROUP BY 1
),
b AS (SELECT MIN(wn) AS lo, MAX(wn) AS hi FROM weekly),
m AS (
    SELECT CASE WHEN wn * 2 <= b.lo + b.hi THEN 0 ELSE 1 END AS era,
           COUNT(*) AS n,
           SUM(CAST(wn AS HUGEINT)) AS sx,
           CAST(CAST(SUM(CAST(rev AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
               AS sy,
           CAST(CAST(SUM(CAST(wn AS DECIMAL(12,0))
                         * CAST(rev AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
               AS sxy,
           SUM(CAST(wn AS HUGEINT) * CAST(wn AS HUGEINT)) AS sxx
    FROM weekly, b GROUP BY 1
),
f AS (
    SELECT era, n, CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx, sy, sxy,
           CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
           CAST(n AS DOUBLE) AS nd
    FROM m
),
fit AS (
    SELECT era, n,
           CASE WHEN nd * sxx - sx * sx = 0 THEN NULL
                ELSE (nd * sxy - sx * sy) / (nd * sxx - sx * sx) END AS slope,
           CASE WHEN nd * sxx - sx * sx = 0 THEN NULL
                ELSE (sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx) * sx)
                     / nd END AS icept
    FROM f
)
SELECT CAST(pre.n AS BIGINT) AS n_pre_weeks,
       CAST(post.n AS BIGINT) AS n_post_weeks,
       ROUND(pre.slope, 6) AS pre_slope,
       ROUND(post.slope, 6) AS post_slope,
       ROUND(post.slope - pre.slope, 6) AS slope_change,
       ROUND((post.icept + post.slope * bd.cut)
             - (pre.icept + pre.slope * bd.cut), 6) AS level_shift
FROM (SELECT * FROM fit WHERE era = 0) pre,
     (SELECT * FROM fit WHERE era = 1) post,
     (SELECT CAST((lo + hi) AS DOUBLE) / 2.0 AS cut FROM b) bd
"""


@register("orders_its_level_shift", oracle=_ITS_SQL)
def orders_its_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from deathmetal_datalake_spark.plans.registry import session_cache

    weekly = session_cache(
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(
                "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)"
                " div 7"
            ).alias("wn"),
            "o_totalprice",
        )
        .groupBy("wn")
        .agg(dsum("o_totalprice", "rev"))
    )
    b = weekly.agg(F.min("wn").alias("lo"), F.max("wn").alias("hi"))
    dd = lambda c: c.cast("string").cast("double")  # noqa: E731
    m = (
        weekly.crossJoin(broadcast(b))
        .select(
            F.when(F.col("wn") * 2 <= F.col("lo") + F.col("hi"), 0)
            .otherwise(1)
            .alias("era"),
            "wn",
            "rev",
        )
        .groupBy("era")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dd(F.sum(F.col("wn").cast("decimal(19,0)"))).alias("sx"),
            dd(F.sum(F.col("rev").cast("decimal(25,6)"))).alias("sy"),
            dd(
                F.sum(
                    F.col("wn").cast("decimal(12,0)")
                    * F.col("rev").cast("decimal(25,6)")
                )
            ).alias("sxy"),
            dd(
                F.sum(
                    F.col("wn").cast("decimal(19,0)")
                    * F.col("wn").cast("decimal(19,0)")
                )
            ).alias("sxx"),
        )
    )
    nd = F.col("n").cast("double")
    den = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    )
    icept = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        (
            F.col("sy")
            - (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / den * F.col("sx")
        )
        / nd
    )
    fit = m.select("era", "n", slope.alias("slope"), icept.alias("icept"))
    pre = fit.filter(F.col("era") == 0).select(
        F.col("n").alias("n_pre"),
        F.col("slope").alias("pre_slope"),
        F.col("icept").alias("pre_icept"),
    )
    post = fit.filter(F.col("era") == 1).select(
        F.col("n").alias("n_post"),
        F.col("slope").alias("post_slope"),
        F.col("icept").alias("post_icept"),
    )
    cut = b.select(
        ((F.col("lo") + F.col("hi")).cast("double") / 2.0).alias("cut")
    )
    return (
        pre.crossJoin(broadcast(post))
        .crossJoin(broadcast(cut))
        .select(
            F.col("n_pre").cast("long").alias("n_pre_weeks"),
            F.col("n_post").cast("long").alias("n_post_weeks"),
            F.round(F.col("pre_slope"), 6).alias("pre_slope"),
            F.round(F.col("post_slope"), 6).alias("post_slope"),
            F.round(F.col("post_slope") - F.col("pre_slope"), 6).alias(
                "slope_change"
            ),
            F.round(
                (F.col("post_icept") + F.col("post_slope") * F.col("cut"))
                - (F.col("pre_icept") + F.col("pre_slope") * F.col("cut")),
                6,
            ).alias("level_shift"),
        )
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche price indices between order-date eras (round 11)
# — the economics pair over lineitem: how did PRICES move, holding the
# BASKET fixed (Laspeyres: era-0 quantities) vs holding the CURRENT
# basket (Paasche: era-1 quantities)? Per-part era price uses the
# MIN-observed-unit-price convention at a FIXED micro-unit (1e-6)
# precision: unit_micro = (cents * 10000) floor-div quantity, pure
# INTEGER arithmetic — cents is the exact decimal(18,2) price times
# 100, and both engines floor-divide positive BIGINTs identically.
# (Round-12 ADVICE fix: the previous decimal division computed a
# non-terminating ratio as high-scale DECIMAL with HALF_UP rounding in
# Spark but effectively as DOUBLE with half-even in DuckDB, so a unit
# price near a 6-dp boundary could make the MIN diverge across
# engines. Integer floor division removes the rounding-mode surface
# entirely.) Products are 128-bit-integer-summed (DECIMAL(38,0) /
# HUGEINT); only the final index ratios cross to rounded doubles via
# the exact VARCHAR parse. 100 TB: two hash aggregates per era keyed
# by part, one join on partkey, one 1-row reduce.
# ---------------------------------------------------------------------------

_PRICE_INDEX_SQL = """
WITH li AS (
    SELECT l_partkey AS pk,
           (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              * 10000) // CAST(l_quantity AS BIGINT) AS unit_micro,
           CAST(l_quantity AS BIGINT) AS qty,
           CASE WHEN l_shipdate <= DATE '1995-06-17' THEN 0 ELSE 1 END AS era
    FROM lineitem
),
p AS (
    SELECT pk, era,
           MIN(unit_micro) AS minp,
           SUM(qty) AS q
    FROM li GROUP BY 1, 2
),
j AS (
    SELECT a.pk,
           CAST(a.minp AS HUGEINT) AS p0, CAST(b.minp AS HUGEINT) AS p1,
           CAST(a.q AS HUGEINT) AS q0, CAST(b.q AS HUGEINT) AS q1
    FROM (SELECT * FROM p WHERE era = 0) a
    JOIN (SELECT * FROM p WHERE era = 1) b USING (pk)
),
s AS (
    SELECT COUNT(*) AS n_parts,
           SUM(p1 * q0) AS l_num, SUM(p0 * q0) AS l_den,
           SUM(p1 * q1) AS p_num, SUM(p0 * q1) AS p_den
    FROM j
)
SELECT CAST(n_parts AS BIGINT) AS n_parts,
       CASE WHEN COALESCE(l_den, 0) = 0 THEN NULL
            ELSE ROUND(CAST(CAST(l_num AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(l_den AS VARCHAR) AS DOUBLE), 6)
       END AS laspeyres_index,
       CASE WHEN COALESCE(p_den, 0) = 0 THEN NULL
            ELSE ROUND(CAST(CAST(p_num AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(p_den AS VARCHAR) AS DOUBLE), 6)
       END AS paasche_index
FROM s
"""


@register("lineitem_price_index_pair", oracle=_PRICE_INDEX_SQL)
def lineitem_price_index_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        # Pure integer arithmetic: exact cents, then floor division —
        # both engines agree bit-for-bit on positive BIGINT `div`.
        F.expr(
            "(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " * 10000) div CAST(l_quantity AS BIGINT)"
        ).alias("unit_micro"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.when(F.col("l_shipdate") <= F.lit("1995-06-17").cast("date"), 0)
        .otherwise(1)
        .alias("era"),
    )
    p = li.groupBy("pk", "era").agg(
        F.min("unit_micro").alias("minp"),
        F.sum("qty").alias("q"),
    )
    a = p.filter(F.col("era") == 0).select(
        "pk",
        F.col("minp").cast("decimal(19,0)").alias("p0"),
        F.col("q").cast("decimal(19,0)").alias("q0"),
    )
    b = p.filter(F.col("era") == 1).select(
        "pk",
        F.col("minp").cast("decimal(19,0)").alias("p1"),
        F.col("q").cast("decimal(19,0)").alias("q1"),
    )
    s = (
        a.join(b, "pk")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("p1") * F.col("q0")).alias("l_num"),
            F.sum(F.col("p0") * F.col("q0")).alias("l_den"),
            F.sum(F.col("p1") * F.col("q1")).alias("p_num"),
            F.sum(F.col("p0") * F.col("q1")).alias("p_den"),
        )
    )
    dd = lambda c: c.cast("string").cast("double")  # noqa: E731
    zero = F.lit(0).cast("decimal(38,6)")
    return s.select(
        F.col("n_parts").cast("long").alias("n_parts"),
        F.when(
            F.coalesce(F.col("l_den").cast("decimal(38,6)"), zero) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(dd(F.col("l_num")) / dd(F.col("l_den")), 6))
        .alias("laspeyres_index"),
        F.when(
            F.coalesce(F.col("p_den").cast("decimal(38,6)"), zero) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(dd(F.col("p_num")) / dd(F.col("p_den")), 6))
        .alias("paasche_index"),
    )


# ---------------------------------------------------------------------------
# Theil's U on weekly revenue (round 12) — the forecastability scalar
# for the trend family (Mann-Kendall / Theil-Sen / ITS above): U =
# sqrt(sum (y_{t+1}-y_t)^2) / sqrt(sum y_{t+1}^2) over CONSECUTIVE
# calendar weeks (pairs come from an equi-join on wn+1 — weeks with no
# orders break the chain by convention; no window, no sort). U ~ 1
# means revenue is no more predictable than a naive carry-forward.
# Exactness: weekly revenues are exact 2-dp decimal sums; differences
# and squares stay DECIMAL(38,4); the two square roots and the final
# ratio are one identical IEEE expression via the VARCHAR crossing.
# 100 TB: one hash aggregate to the time-bounded weekly frame, one
# equi-join on week number, one 1-row reduce.
# ---------------------------------------------------------------------------

_THEIL_U_SQL = f"""
WITH weekly AS (
    SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) // 7
               AS wn,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY 1
),
pairs AS (
    SELECT a.rev AS y0, b.rev AS y1
    FROM weekly a JOIN weekly b ON b.wn = a.wn + 1
),
s AS (
    SELECT COUNT(*) AS n_pairs,
           SUM(CAST((y1 - y0) * (y1 - y0) AS DECIMAL(38,4))) AS se,
           SUM(CAST(y1 * y1 AS DECIMAL(38,4))) AS sy
    FROM pairs
)
SELECT CAST((SELECT COUNT(*) FROM weekly) AS BIGINT) AS n_weeks,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CASE WHEN COALESCE(sy, 0) = 0 THEN NULL
            ELSE ROUND(SQRT(CAST(CAST(se AS VARCHAR) AS DOUBLE))
                       / SQRT(CAST(CAST(sy AS VARCHAR) AS DOUBLE)), 6)
       END AS theil_u
FROM s
"""


@register("orders_theil_u_weekly", oracle=_THEIL_U_SQL)
def orders_theil_u_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from deathmetal_datalake_spark.plans.registry import session_cache

    weekly = session_cache(
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(
                "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT)"
                " div 7"
            ).alias("wn"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("wn")
        .agg(F.sum("p").alias("rev"))
    )
    a = weekly.select(F.col("wn").alias("wa"), F.col("rev").alias("y0"))
    b = weekly.select(F.col("wn").alias("wb"), F.col("rev").alias("y1"))
    pairs = a.join(b, F.col("wb") == F.col("wa") + 1)
    d384 = lambda c: c.cast("decimal(38,4)")  # noqa: E731
    s = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            d384((F.col("y1") - F.col("y0")) * (F.col("y1") - F.col("y0")))
        ).alias("se"),
        F.sum(d384(F.col("y1") * F.col("y1"))).alias("sy"),
    )
    nw = weekly.agg(F.count(F.lit(1)).alias("n_weeks"))
    dd = lambda c: c.cast("string").cast("double")  # noqa: E731
    zero = F.lit(0).cast("decimal(38,4)")
    return s.crossJoin(broadcast(nw)).select(  # [1row] week count
        F.col("n_weeks").cast("long").alias("n_weeks"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.when(
            F.coalesce(F.col("sy"), zero) == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.round(F.sqrt(dd(F.col("se"))) / F.sqrt(dd(F.col("sy"))), 6)
        )
        .alias("theil_u"),
    )


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative trend (round 12) — the
# k-group test Kruskal-Wallis cannot be: KW asks "do the groups
# differ?", J-T asks "do they INCREASE along a known ordering?" (here
# order value along the 1-URGENT .. 5-LOW priority scale). J is the
# sum over ordered group pairs i<j of Mann-Whitney exceedance counts;
# on the distinct-value frame J = sum_v sum_{i<j} [c_j(v)*cumlt_i(v)
# + c_i(v)*c_j(v)/2] — everything integer once doubled. All five
# groups' running counts come from ONE fused two-phase pass
# (two_phase_order_multi, 5 cumsum specs on the same total order —
# never a single-task window). The raw 2J reaches ~N^2/2, so the
# OUTPUT carries the normalized J / n_pairs (in [0,1], 0.5 = no
# trend) and the z-score under the standard no-tie variance
# (documented convention — o_totalprice is near-unique), never a
# >2^63 integer. 100 TB: one hash aggregate to distinct values, the
# fused two-phase cumsum, one 1-row reduce.
# ---------------------------------------------------------------------------

_JT_GROUPS = 5


def _jt_pair_terms_sql() -> str:
    terms = []
    for i in range(1, _JT_GROUPS + 1):
        for j in range(i + 1, _JT_GROUPS + 1):
            terms.append(
                f"2 * CAST(c{j} AS HUGEINT) * (cum{i} - c{i})"
                f" + CAST(c{i} AS HUGEINT) * c{j}"
            )
    return " + ".join(terms)


_JT_SQL = f"""
WITH o AS (
    SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS g,
           o_totalprice AS v
    FROM orders
),
d AS (
    SELECT v,
           {", ".join(f"SUM(CASE WHEN g = {i} THEN 1 ELSE 0 END) AS c{i}" for i in range(1, _JT_GROUPS + 1))}
    FROM o GROUP BY v
),
cums AS (
    SELECT v, {", ".join(f"c{i}" for i in range(1, _JT_GROUPS + 1))},
           {", ".join(f"SUM(CAST(c{i} AS HUGEINT)) OVER (ORDER BY v ASC) AS cum{i}" for i in range(1, _JT_GROUPS + 1))}
    FROM d
),
s AS (
    SELECT SUM({_jt_pair_terms_sql()}) AS jt2
    FROM cums
),
gn AS (
    SELECT SUM(CAST(cnt AS HUGEINT) * cnt) AS sq,
           SUM(CAST(cnt AS HUGEINT)) AS n,
           COUNT(*) AS n_groups,
           SUM(CAST(cnt AS HUGEINT) * cnt * (2 * cnt + 3)) AS sq3
    FROM (SELECT g, COUNT(*) AS cnt FROM o GROUP BY g)
)
SELECT CAST(gn.n AS BIGINT) AS n_orders,
       CAST(gn.n_groups AS BIGINT) AS n_groups,
       CASE WHEN gn.n * gn.n - gn.sq = 0 THEN NULL
            ELSE ROUND(CAST(CAST(s.jt2 AS VARCHAR) AS DOUBLE)
                       / (2.0 * CAST(CAST((gn.n * gn.n - gn.sq) // 2
                                     AS VARCHAR) AS DOUBLE)), 6)
       END AS jt_normalized,
       CASE WHEN gn.n * gn.n - gn.sq = 0 THEN NULL
            ELSE ROUND((CAST(CAST(s.jt2 AS VARCHAR) AS DOUBLE)
                        - CAST(CAST(gn.n * gn.n - gn.sq AS VARCHAR) AS DOUBLE)
                          / 2.0)
                       / (2.0 * SQRT((CAST(CAST(gn.n AS VARCHAR) AS DOUBLE)
                                      * CAST(CAST(gn.n AS VARCHAR) AS DOUBLE)
                                      * (2.0 * CAST(CAST(gn.n AS VARCHAR) AS DOUBLE) + 3.0)
                                      - CAST(CAST(gn.sq3 AS VARCHAR) AS DOUBLE))
                                     / 72.0)), 6)
       END AS z_score
FROM s, gn
"""


@register("orders_jonckheere_terpstra_trend", oracle=_JT_SQL)
def orders_jonckheere_terpstra_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from deathmetal_datalake_spark.operators.ordering import (
        OrderSpec,
        two_phase_order_multi,
    )
    from deathmetal_datalake_spark.plans.registry import session_cache

    o = load_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        F.col("o_totalprice").alias("v"),
    )
    rng = range(1, _JT_GROUPS + 1)
    d = session_cache(
        o.groupBy("v").agg(
            *[
                F.sum(F.when(F.col("g") == i, 1).otherwise(0)).alias(f"c{i}")
                for i in rng
            ]
        )
    )
    # All five running counts share ONE total order, so they ride one
    # spec with a multi-pair cumsum (one bucket tag, one totals
    # aggregate, one offsets frame, one local window — round-12
    # ordering extension), and the stages are pinned to cluster width
    # instead of a vanilla session's 200 shuffle partitions.
    cums = two_phase_order_multi(
        d,
        [
            OrderSpec(
                [F.asc("v")],
                F.col("v"),
                cumsum=[(f"c{i}", f"cum{i}") for i in rng],
            )
        ],
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    term = None
    for i in rng:
        for j in rng:
            if i < j:
                t = F.lit(2) * d38(F.col(f"c{j}")) * (
                    d38(F.col(f"cum{i}")) - d38(F.col(f"c{i}"))
                ) + d38(F.col(f"c{i}")) * d38(F.col(f"c{j}"))
                term = t if term is None else term + t
    s = cums.select(term.cast("decimal(38,0)").alias("t")).agg(
        F.sum("t").alias("jt2")
    )
    gcnt = o.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    gn = gcnt.agg(
        F.sum(d38(F.col("cnt")) * F.col("cnt")).alias("sq"),
        F.sum(d38(F.col("cnt"))).alias("n"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            d38(F.col("cnt")) * F.col("cnt") * (F.lit(2) * F.col("cnt") + 3)
        ).alias("sq3"),
    )
    dd = lambda c: c.cast("string").cast("double")  # noqa: E731
    npairs2 = (F.col("n") * F.col("n") - F.col("sq")).cast("decimal(38,0)")
    half_pairs = F.expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * n - sq) div 2 AS DECIMAL(38,0))"
    )
    var = (
        dd(F.col("n")) * dd(F.col("n")) * (F.lit(2.0) * dd(F.col("n")) + F.lit(3.0))
        - dd(F.col("sq3"))
    ) / F.lit(72.0)
    return s.crossJoin(broadcast(gn)).select(  # [1row] group counts
        F.col("n").cast("long").alias("n_orders"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.when(npairs2 == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(dd(F.col("jt2")) / (F.lit(2.0) * dd(half_pairs)), 6)
        )
        .alias("jt_normalized"),
        F.when(npairs2 == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (dd(F.col("jt2")) - dd(npairs2) / F.lit(2.0))
                / (F.lit(2.0) * F.sqrt(var)),
                6,
            )
        )
        .alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Friedman rank test across priority classes (round 12) — the
# within-block k-treatment companion to Kruskal-Wallis (between-group)
# and Jonckheere-Terpstra (ordered-alternative): blocks are calendar
# weeks, treatments the five order priorities, the response each
# cell's weekly revenue. Only COMPLETE blocks (all five priorities
# present) enter, per the test's definition. Ranks are tie-averaged
# and kept INTEGER as doubled ranks (r2 = 2*lt + eq + 1), so rank sums
# are exact; the statistic chi2_F = 3*sum_j R2_j^2 / (n*k*(k+1)) -
# 3*n*(k+1) (the doubled-rank form of the textbook 12/(nk(k+1)) *
# sum R_j^2 - 3n(k+1)) is one rational of exact integers. Week number
# is the engine-independent integer dn DIV 7 (Theil-Sen convention);
# weekly revenues cross to double via the VARCHAR parse so both
# engines compare identical IEEE values when ranking. 100 TB: one
# map-combinable weekly aggregate, a within-block self-join bounded at
# k=5 rows per block (expansion factor 5, never data-quadratic), two
# hash aggregates, a 1-row statistic frame.
# ---------------------------------------------------------------------------

_FR_K = 5

_FRIEDMAN_SQL = f"""
WITH weekly AS (
    SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) // 7
               AS wn,
           CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS g,
           {sql_dsum("o_totalprice", "rev")}
    FROM orders GROUP BY 1, 2
),
full_blocks AS (
    SELECT wn FROM weekly GROUP BY wn HAVING COUNT(*) = {_FR_K}
),
wb AS (SELECT weekly.* FROM weekly JOIN full_blocks USING (wn)),
ranked AS (
    SELECT a.wn, a.g,
           2 * SUM(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END)
             + SUM(CASE WHEN b.rev = a.rev THEN 1 ELSE 0 END) + 1 AS r2
    FROM wb a JOIN wb b USING (wn)
    GROUP BY a.wn, a.g, a.rev
),
rs AS (
    SELECT g, SUM(CAST(r2 AS HUGEINT)) AS r2sum FROM ranked GROUP BY g
),
meta AS (
    SELECT (SELECT CAST(COUNT(*) AS HUGEINT) FROM full_blocks) AS n,
           SUM(CAST(r2sum AS HUGEINT) * r2sum) AS ssq
    FROM rs
)
SELECT CAST(rs.g AS INTEGER) AS priority_class,
       CAST(meta.n AS BIGINT) AS n_weeks,
       CAST(CAST(rs.r2sum AS VARCHAR) AS DOUBLE) / 2.0 AS rank_sum,
       ROUND(CAST(CAST(rs.r2sum AS VARCHAR) AS DOUBLE) / 2.0
             / CAST(CAST(meta.n AS VARCHAR) AS DOUBLE), 6) AS mean_rank,
       ROUND(3.0 * CAST(CAST(meta.ssq AS VARCHAR) AS DOUBLE)
                 / (CAST(CAST(meta.n AS VARCHAR) AS DOUBLE)
                    * {_FR_K} * {_FR_K + 1})
             - 3.0 * CAST(CAST(meta.n AS VARCHAR) AS DOUBLE) * {_FR_K + 1},
             6) AS chi2_friedman
FROM rs, meta
ORDER BY priority_class
"""


@register("orders_friedman_priority_ranks", oracle=_FRIEDMAN_SQL)
def orders_friedman_priority_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from deathmetal_datalake_spark.plans.registry import session_cache

    o = load_table(spark, sf_dir, "orders").select(
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
        ),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        F.col("o_totalprice"),
    ).toDF("dn", "g", "price")
    weekly = o.withColumn(
        "wn", F.expr("dn div 7")
    ).groupBy("wn", "g").agg(dsum("price", "rev"))
    weekly = session_cache(weekly)
    full_blocks = weekly.groupBy("wn").agg(F.count(F.lit(1)).alias("kk")).filter(
        F.col("kk") == _FR_K
    ).select("wn")
    wb = weekly.join(full_blocks, "wn")
    b = wb.select(
        F.col("wn"), F.col("rev").alias("rev_b")
    )
    ranked = (
        wb.join(b, "wn")
        .groupBy("wn", "g", "rev")
        .agg(
            (
                F.lit(2) * F.sum(F.when(F.col("rev_b") < F.col("rev"), 1).otherwise(0))
                + F.sum(F.when(F.col("rev_b") == F.col("rev"), 1).otherwise(0))
                + F.lit(1)
            ).alias("r2")
        )
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    rs = ranked.groupBy("g").agg(F.sum(d38(F.col("r2"))).alias("r2sum"))
    meta = rs.agg(
        F.sum(d38(F.col("r2sum")) * F.col("r2sum")).alias("ssq")
    ).crossJoin(
        broadcast(full_blocks.agg(F.count(F.lit(1)).alias("n")))  # [1row]
    )
    dd = lambda c: c.cast("string").cast("double")  # noqa: E731
    return (
        rs.crossJoin(broadcast(meta))  # [1row] statistic frame
        .select(
            F.col("g").cast("int").alias("priority_class"),
            F.col("n").cast("long").alias("n_weeks"),
            (dd(F.col("r2sum")) / F.lit(2.0)).alias("rank_sum"),
            F.round(
                dd(F.col("r2sum")) / F.lit(2.0) / dd(F.col("n")), 6
            ).alias("mean_rank"),
            F.round(
                F.lit(3.0)
                * dd(F.col("ssq"))
                / (dd(F.col("n")) * F.lit(float(_FR_K * (_FR_K + 1))))
                - F.lit(3.0) * dd(F.col("n")) * F.lit(float(_FR_K + 1)),
                6,
            ).alias("chi2_friedman"),
        )
        .orderBy("priority_class")
    )


# ---------------------------------------------------------------------------
# Two-sample Cramér-von Mises (round 13) — the integrated-squared
# ECDF-distance companion to the KS/Mann-Whitney drift battery:
# compares finished ('F') vs open ('O') orders on totalprice over the
# WHOLE distribution, where KS sees only the worst point. Anderson's
# rank form needs each value's GLOBAL rank r and its WITHIN-GROUP
# position i; both ride ONE fused two_phase_order_multi pass (no
# per-group single-task window): the second spec totals-orders a
# composite numeric key (group * 1e9 + value, exact in doubles at this
# value range) and subtracts the bounded group-offset frame. All sums
# are exact integers (d^2 <= N^2 in longs, U in decimal(38,0));
# T = U/(nmN) - (4mn-1)/(6N) crosses to double once per factor.
# Ties across groups are broken by o_orderkey (deterministic total
# order; documented statistic-under-tie-break). 100 TB: two two-phase
# orderings + one hash aggregate; no data-proportional state.
# ---------------------------------------------------------------------------

_CVM_GROUP_SHIFT = 1_000_000_000.0

_CVM_SQL = """
WITH x AS (
    SELECT o_orderkey AS k, o_totalprice AS v, o_orderstatus AS st
    FROM orders WHERE o_orderstatus IN ('F', 'O')
),
r AS (
    SELECT st,
           ROW_NUMBER() OVER (ORDER BY v, k) AS r,
           ROW_NUMBER() OVER (PARTITION BY st ORDER BY v, k) AS i
    FROM x
),
s AS (
    SELECT
        SUM(CASE WHEN st = 'F'
            THEN CAST((r - i) AS HUGEINT) * CAST((r - i) AS HUGEINT)
            ELSE CAST(0 AS HUGEINT) END) AS sf,
        SUM(CASE WHEN st = 'O'
            THEN CAST((r - i) AS HUGEINT) * CAST((r - i) AS HUGEINT)
            ELSE CAST(0 AS HUGEINT) END) AS so,
        SUM(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS n_a,
        SUM(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS n_b
    FROM r
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE
           ROUND(
               CAST(CAST(n_a * sf + n_b * so AS VARCHAR) AS DOUBLE)
               / CAST(CAST(CAST(n_a AS HUGEINT) * n_b * (n_a + n_b)
                      AS VARCHAR) AS DOUBLE)
               - CAST(CAST(4 * CAST(n_a AS HUGEINT) * n_b - 1
                      AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(6 * (n_a + n_b) AS VARCHAR) AS DOUBLE),
           6) END AS t_cvm
FROM s
"""


@register("orders_cramer_von_mises_two_sample", oracle=_CVM_SQL)
def orders_cramer_von_mises_two_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from deathmetal_datalake_spark.operators.ordering import (
        OrderSpec,
        two_phase_order_multi,
    )

    x = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderstatus").alias("st"),
        (
            F.when(F.col("o_orderstatus") == "O", 1.0).otherwise(0.0)
            * F.lit(_CVM_GROUP_SHIFT)
            + F.col("o_totalprice")
        ).alias("gv"),
    )
    ranked = two_phase_order_multi(
        x,
        [
            OrderSpec([F.asc("v"), F.asc("k")], F.col("v"),
                      rank_col="r", sub_key=F.col("k")),
            OrderSpec([F.asc("gv"), F.asc("k")], F.col("gv"),
                      rank_col="r2", sub_key=F.col("k")),
        ],
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    cnts = x.agg(
        F.sum(F.when(F.col("st") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("st") == "O", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dd = lambda c: c.cast("string").cast("double")  # noqa: E731
    i = F.col("r2") - F.when(F.col("st") == "O", F.col("n_a")).otherwise(
        F.lit(0).cast("long")
    )
    d = F.col("r") - i
    s = (
        ranked.crossJoin(broadcast(cnts))  # [1row] group counts
        .agg(
            F.sum(
                F.when(F.col("st") == "F", d38(d * d)).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ).alias("sf"),
            F.sum(
                F.when(F.col("st") == "O", d38(d * d)).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ).alias("so"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    u = d38(F.col("n_a")) * F.col("sf") + d38(F.col("n_b")) * F.col("so")
    denom = d38(F.col("n_a")) * F.col("n_b") * (F.col("n_a") + F.col("n_b"))
    corr_num = F.lit(4) * d38(F.col("n_a")) * F.col("n_b") - F.lit(1)
    corr_den = F.lit(6) * (F.col("n_a") + F.col("n_b"))
    return s.select(
        F.col("n_a"),
        F.col("n_b"),
        F.when(
            (F.col("n_a") == 0) | (F.col("n_b") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                dd(u.cast("decimal(38,0)")) / dd(denom.cast("decimal(38,0)"))
                - dd(corr_num.cast("decimal(38,0)"))
                / dd(corr_den.cast("long")),
                6,
            )
        )
        .alias("t_cvm"),
    )


# ---------------------------------------------------------------------------
# Monthly return-rate Wilson interval (round 13) — the proportion
# monitor done right: a per-month return rate with a Wilson score
# interval instead of the naive ±z*sqrt(pq/n) (which collapses at 0/1
# and small n). z is pinned at exactly 2 so every intermediate before
# the final sqrt is exact INTEGER arithmetic: center = (r+2)/(n+4),
# half-width = 2*sqrt((r(n-r)+n)/n^3)*n/(n+4), with r(n-r)+n exact in
# longs and the identical expression tree on both engines. 100 TB: one
# hash aggregate to ~#months rows; everything after is bounded.
# ---------------------------------------------------------------------------

_WILSON_SQL = """
WITH m AS (
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           COUNT(*) AS n,
           SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
    FROM lineitem GROUP BY 1
)
SELECT month,
       CAST(n AS BIGINT) AS n_items,
       CAST(r AS BIGINT) AS n_returned,
       ROUND(CAST(r AS DOUBLE) / n, 6) AS p_hat,
       ROUND((CAST(r AS DOUBLE) + 2.0) / (n + 4)
             - 2.0 * SQRT(CAST(r * (n - r) + n AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n AS DOUBLE)))
               * CAST(n AS DOUBLE) / (n + 4), 6) AS wilson_lo,
       ROUND((CAST(r AS DOUBLE) + 2.0) / (n + 4)
             + 2.0 * SQRT(CAST(r * (n - r) + n AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                             * CAST(n AS DOUBLE)))
               * CAST(n AS DOUBLE) / (n + 4), 6) AS wilson_hi
FROM m ORDER BY month
"""


@register("lineitem_return_wilson_monthly", oracle=_WILSON_SQL)
def lineitem_return_wilson_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("r"),
    )
    nd = F.col("n").cast("double")
    center = (F.col("r").cast("double") + F.lit(2.0)) / (F.col("n") + 4)
    half = (
        F.lit(2.0)
        * F.sqrt(
            (F.col("r") * (F.col("n") - F.col("r")) + F.col("n")).cast(
                "double"
            )
            / (nd * nd * nd)
        )
        * nd
        / (F.col("n") + 4)
    )
    return m.select(
        "month",
        F.col("n").alias("n_items"),
        F.col("r").alias("n_returned"),
        F.round(F.col("r").cast("double") / F.col("n"), 6).alias("p_hat"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# Supplier revenue concentration (round 13) — the Herfindahl-Hirschman
# index per nation: sum of squared supplier revenue shares, the
# antitrust-grade concentration number (10000 x HHI in economist
# units would be share-in-percent squared; this keeps the [1/n, 1]
# fraction form). Revenue sums ride the exact decimal path (dsum law);
# each supplier's squared share is micro-rounded to a long before the
# per-nation sum, so the only floats are per-row and the final divide.
# 100 TB: two hash aggregates (supplier rollup, nation rollup) and a
# broadcastable nation-totals join.
# ---------------------------------------------------------------------------

_HHI_SQL = f"""
WITH rev AS (
    SELECT s.s_nationkey, l.l_suppkey,
           SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
               AS DECIMAL(18,6))) AS r
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
tot AS (SELECT s_nationkey, SUM(r) AS tr, COUNT(*) AS ns FROM rev GROUP BY 1),
terms AS (
    SELECT rev.s_nationkey,
           CAST(ROUND(
               (CAST(CAST(rev.r AS VARCHAR) AS DOUBLE)
                / CAST(CAST(tot.tr AS VARCHAR) AS DOUBLE))
               * (CAST(CAST(rev.r AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(tot.tr AS VARCHAR) AS DOUBLE))
               * 1000000000) AS BIGINT) AS u
    FROM rev JOIN tot ON rev.s_nationkey = tot.s_nationkey
)
SELECT n.n_name AS nation,
       CAST(t.ns AS BIGINT) AS n_suppliers,
       ROUND(SUM(terms.u) / 1000000000.0, 6) AS hhi
FROM terms
JOIN tot t ON terms.s_nationkey = t.s_nationkey
JOIN nation n ON terms.s_nationkey = n.n_nationkey
GROUP BY 1, 2
ORDER BY nation
"""


@register("supplier_hhi_by_nation", oracle=_HHI_SQL)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    # No forced broadcast on supplier: the table is SF-proportional
    # (TPC-H SF x 10k rows), so the ship-through-driver hint would OOM
    # at scale — AQE picks broadcast at small SF on its own.
    rev = (
        li.join(
            sup.select("s_suppkey", "s_nationkey"),
            li["l_suppkey"] == sup["s_suppkey"],
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("r")
        )
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("r").alias("tr"), F.count(F.lit(1)).cast("long").alias("ns")
    )
    dd = lambda c: c.cast("string").cast("double")  # noqa: E731
    share = dd(F.col("r")) / dd(F.col("tr"))
    u = F.round(share * share * F.lit(1000000000.0)).cast("long")
    return (
        rev.join(broadcast(tot), "s_nationkey")  # [enum] 25-nation totals
        .select("s_nationkey", F.col("ns"), u.alias("u"))
        .groupBy("s_nationkey", "ns")
        .agg(F.sum("u").alias("su"))
        .join(
            broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("ns").alias("n_suppliers"),
            F.round(F.col("su") / F.lit(1000000000.0), 6).alias("hhi"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (round 13) — the heavy-tail diagnostic for
# a value column: alpha-hat = k / sum_{i<=k} ln(x_(i) / x_(k+1)) over
# the k largest order statistics. Small alpha = fat tail (revenue
# concentration, outlier-prone metrics); the number behind "should
# this column be log-transformed / winsorized before training".
# The order statistics ride the two-phase distributed rank (descending
# with a unique tie-break, never a single-task sort); the k-bounded
# top frame does the log arithmetic with micro-rounded terms.
# 100 TB: one two-phase rank + a <=k+1-row frame.
# ---------------------------------------------------------------------------

_HILL_K = 500

_HILL_SQL = f"""
WITH x AS (
    SELECT l_extendedprice AS v,
           l_orderkey * 10 + l_linenumber AS uid
    FROM lineitem
),
r AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC, uid ASC) AS rk FROM x
),
xk AS (SELECT v AS vk FROM r WHERE rk = {_HILL_K} + 1),
terms AS (
    SELECT CAST(ROUND(LN(r.v / xk.vk) * 1000000) AS BIGINT) AS u
    FROM r, xk WHERE r.rk <= {_HILL_K}
)
SELECT CAST({_HILL_K} AS BIGINT) AS k,
       (SELECT ROUND(vk, 6) FROM xk) AS x_threshold,
       ROUND({_HILL_K} / (SUM(u) / 1000000.0), 6) AS hill_alpha
FROM terms
"""


@register("lineitem_hill_tail_index", oracle=_HILL_SQL)
def lineitem_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from deathmetal_datalake_spark.operators.ordering import two_phase_order

    x = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
    )
    ranked = two_phase_order(
        x,
        [F.desc("v"), F.asc("uid")],
        F.col("v"),
        key_desc=True,
        rank_col="rk",
        sub_key=F.col("uid"),
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    top = ranked.filter(F.col("rk") <= _HILL_K + 1)
    xk = top.filter(F.col("rk") == _HILL_K + 1).select(
        F.col("v").alias("vk")
    )
    terms = (
        top.filter(F.col("rk") <= _HILL_K)
        .crossJoin(broadcast(xk))  # [1row] threshold order statistic
        .select(
            F.round(F.log(F.col("v") / F.col("vk")) * F.lit(1000000.0))
            .cast("long")
            .alias("u")
        )
    )
    return terms.crossJoin(broadcast(xk)).agg(
        F.lit(_HILL_K).cast("long").alias("k"),
        F.round(F.max("vk"), 6).alias("x_threshold"),
        F.round(
            F.lit(_HILL_K) / (F.sum("u") / F.lit(1000000.0)), 6
        ).alias("hill_alpha"),
    )


# ---------------------------------------------------------------------------
# Partial correlation (round 13) — price vs quantity CONTROLLING for
# discount on lineitem: the confounder-adjusted association number
# (first-order partial r), completing the correlation battery (plain
# Pearson, Spearman, Kendall already in the catalog). Pearson r is
# invariant under positive scaling, so the variables ride as INTEGER
# cents/units and all nine moment sums are plain LONG aggregates (the
# decimal path costs ~3 s per sum at the 10x scale — BigDecimal
# buffers; longs are whole-stage-codegen fast). The one sum that can
# exceed signed-64 at scale (sum of squared price-cents) is carried as
# a split (mod / div 1e9) pair and reconstructed in decimal(38,0) on
# the 1-row frame, where exactness is free. Only the final normalized
# ratios are floats. 100 TB: one 11-column hash aggregate.
# ---------------------------------------------------------------------------

_PCORR_SPLIT = 1_000_000_000

_PCORR_SQL = f"""
WITH b AS (
    SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x,
           CAST(l_quantity AS BIGINT) AS y,
           CAST(ROUND(l_discount * 100) AS BIGINT) AS z
    FROM lineitem
),
s AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
           SUM(x * y) AS sxy, SUM(x * z) AS sxz, SUM(y * z) AS syz,
           SUM((x * x) % {_PCORR_SPLIT}) AS sxx_lo,
           SUM((x * x) // {_PCORR_SPLIT}) AS sxx_hi,
           SUM(y * y) AS syy, SUM(z * z) AS szz
    FROM b
),
m AS (
    SELECT n, sx, sy, sz, sxy, sxz, syz, syy, szz,
           CAST(sxx_hi AS HUGEINT) * {_PCORR_SPLIT} + sxx_lo AS sxx
    FROM s
),
r AS (
    SELECT CAST(n AS BIGINT) AS n,
           CAST(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                AS VARCHAR) AS DOUBLE)
           / SQRT(CAST(CAST(CAST(n AS HUGEINT) * sxx
                       - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(CAST(n AS HUGEINT) * syy
                         - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS DOUBLE))
               AS rxy,
           CAST(CAST(CAST(n AS HUGEINT) * sxz - CAST(sx AS HUGEINT) * sz
                AS VARCHAR) AS DOUBLE)
           / SQRT(CAST(CAST(CAST(n AS HUGEINT) * sxx
                       - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(CAST(n AS HUGEINT) * szz
                         - CAST(sz AS HUGEINT) * sz AS VARCHAR) AS DOUBLE))
               AS rxz,
           CAST(CAST(CAST(n AS HUGEINT) * syz - CAST(sy AS HUGEINT) * sz
                AS VARCHAR) AS DOUBLE)
           / SQRT(CAST(CAST(CAST(n AS HUGEINT) * syy
                       - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(CAST(n AS HUGEINT) * szz
                         - CAST(sz AS HUGEINT) * sz AS VARCHAR) AS DOUBLE))
               AS ryz
    FROM m
)
SELECT n AS n_rows,
       ROUND(rxy, 6) AS r_price_qty,
       ROUND(rxz, 6) AS r_price_disc,
       ROUND(ryz, 6) AS r_qty_disc,
       ROUND((rxy - rxz * ryz)
             / SQRT((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
           AS partial_r_price_qty_given_disc
FROM r
"""


@register("lineitem_partial_correlation", oracle=_PCORR_SQL)
def lineitem_partial_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
        F.round(F.col("l_discount") * 100).cast("long").alias("z"),
    )
    p = F.col("x") * F.col("x")
    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
        F.sum(p % F.lit(_PCORR_SPLIT)).alias("sxx_lo"),
        F.sum(F.expr(f"(x * x) div {_PCORR_SPLIT}")).alias("sxx_hi"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dd = lambda c: c.cast("string").cast("double")  # noqa: E731
    m = s.withColumn(
        "sxx",
        (d38(F.col("sxx_hi")) * F.lit(_PCORR_SPLIT) + F.col("sxx_lo")).cast(
            "decimal(38,0)"
        ),
    )

    def corr(sab, sa, sb, saa, sbb):
        num = (d38(F.col("n")) * F.col(sab) - d38(F.col(sa)) * F.col(sb)).cast(
            "decimal(38,0)"
        )
        da = (d38(F.col("n")) * F.col(saa) - d38(F.col(sa)) * F.col(sa)).cast(
            "decimal(38,0)"
        )
        db = (d38(F.col("n")) * F.col(sbb) - d38(F.col(sb)) * F.col(sb)).cast(
            "decimal(38,0)"
        )
        return dd(num) / F.sqrt(dd(da) * dd(db))

    withr = m.select(
        F.col("n").alias("n_rows"),
        corr("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        corr("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    return withr.select(
        "n_rows",
        F.round(F.col("rxy"), 6).alias("r_price_qty"),
        F.round(F.col("rxz"), 6).alias("r_price_disc"),
        F.round(F.col("ryz"), 6).alias("r_qty_disc"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (F.lit(1.0) - F.col("rxz") * F.col("rxz"))
                * (F.lit(1.0) - F.col("ryz") * F.col("ryz"))
            ),
            6,
        ).alias("partial_r_price_qty_given_disc"),
    )
